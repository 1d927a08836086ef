"""LLM-training-data pipeline queries (SURVEY.md §3 group K + north
star): dedup family, similarity search, text analysis, multimodal
plumbing, plus the batch twin of the streaming tumbling window.

Q18/Q28 register without oracle SQL (approx sketch / LSH — the driver
records a rows-only check; accuracy is asserted by tests/test_dedup.py
and tests/test_approx.py tolerance suites instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morphl_community_edition_spark.catalog import load_table
from morphl_community_edition_spark.operators.dedup import (
    exact_jaccard_pairs,
    minhash_neardup_pairs,
    simhash_hamming_pairs,
    simhash_signatures,
)
from morphl_community_edition_spark.operators.heavyhitters import heavy_hitters_exact
from morphl_community_edition_spark.operators.multimodal import attach_media, extract_features
from morphl_community_edition_spark.operators.quality_checks import profile
from morphl_community_edition_spark.plans.hints import capped_order
from morphl_community_edition_spark.operators.similarity import cosine_pairs_threshold, cosine_topk_per_query
from morphl_community_edition_spark.operators.textstats import (
    LANG_PRIORITY,
    LANG_STOPWORDS,
    lang_scores,
    quality_features,
    token_stats,
)
from morphl_community_edition_spark.functions.rounding import crnd, sql_crnd, sql_dsum, dsum
from morphl_community_edition_spark.plans.hints import fan_out_narrow_scan
from morphl_community_edition_spark.operators import manifest as _manifest
from morphl_community_edition_spark.queries import query
from morphl_community_edition_spark.queries.windows import EVENTS_US
from morphl_community_edition_spark.session import artifact


@query("q18_approx_count_distinct")  # no oracle: HLL++ sketch differs from DuckDB's by design
def q18_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: approx_count_distinct (HLL++). Tolerance-tested (<5% err)
    against exact countDistinct in tests/test_approx.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .orderBy("event_type")
    )


@query("q28_minhash_neardup")  # no oracle: LSH candidate set; recall ≥0.9 tested vs exact Jaccard
def q28_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_neardup_pairs(docs).orderBy("a_doc", "b_doc")


@query(
    "q29_top_terms",
    oracle="""
    SELECT lang, w, count(*) AS c FROM
      (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
    GROUP BY lang, w
    HAVING count(*) > 5
    ORDER BY lang, c DESC, w
    LIMIT 300
    """,
)
def q29_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 5)
        .orderBy("lang", F.col("c").desc(), "w")
        .limit(300)
    )


@query(
    "q30_embedding_centroids",
    oracle="""
    SELECT label, CAST(dim AS INTEGER) AS dim, floor((CAST(sum(CAST(x AS DOUBLE)) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS avg_x FROM
      (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x FROM embeddings) t
    GROUP BY label, dim
    ORDER BY label, dim
    LIMIT 1000
    """,
)
def q30_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: per-label centroid via posexplode — the shuffle key is
    (label, dim): 640 evenly-sized groups, not 10 giant ones."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"))
        .select("label", (F.col("pos") + 1).alias("dim"), "x")
        .groupBy("label", "dim")
        .agg(crnd(F.sum("x").cast("double") / F.count(F.lit(1)).cast("double"), 6).alias("avg_x"))
        .orderBy("label", "dim")
        .limit(1000)
    )


def _lang_id_oracle() -> str:
    score_cols = ",\n           ".join(
        "CAST(len(list_filter(ws, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        + f"], x))) AS INTEGER) AS score_{lang}"
        for lang in LANG_PRIORITY
    )
    cases = []
    for lang in LANG_PRIORITY[:-1]:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in LANG_PRIORITY if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    # NULL-text parity (round-9 review): the Spark when-chain yields
    # NULL for NULL text (all scores NULL), so the CASE must not let a
    # NULL row fall through to the last-language ELSE shortcut — the
    # shortcut is only valid where some score comparison is non-NULL
    case_expr = (
        f"CASE WHEN score_{LANG_PRIORITY[0]} IS NULL THEN NULL "
        + " ".join(cases)
        + f" ELSE '{LANG_PRIORITY[-1]}' END"
    )
    return f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id, lang,
           {score_cols}
          FROM t)
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
           {case_expr} AS lang_pred
    FROM s ORDER BY doc_id
    """


@query("q33_lang_id", oracle=_lang_id_oracle())
def q33_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return lang_scores(docs).drop("text").orderBy("doc_id")


@query(
    "q34_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
    r AS (SELECT doc_id,
           CAST(len(ws) AS INTEGER) AS n_words,
           (length(text) - (len(ws) - 1)) / CAST(len(ws) AS DOUBLE) AS mean_wlen_raw,
           len(list_filter(ws, x -> list_contains(['the','a','and','of','to','in','is','it'], x))) / CAST(len(ws) AS DOUBLE) AS stop_ratio_raw,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_ratio_raw
          FROM t)
    SELECT doc_id, n_words,
           {sql_crnd("mean_wlen_raw", 6)} AS mean_wlen,
           {sql_crnd("stop_ratio_raw", 6)} AS stop_ratio,
           {sql_crnd("alpha_ratio_raw", 6)} AS alpha_ratio,
           {sql_crnd("least(n_words / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) * CAST(0.5 AS DOUBLE) + stop_ratio_raw * CAST(0.3 AS DOUBLE) + alpha_ratio_raw * CAST(0.2 AS DOUBLE)", 6)} AS quality
    FROM r ORDER BY doc_id
    """,
)
def q34_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_features(docs).drop("text").orderBy("doc_id")


@query(
    "q35_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_re_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q35_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return token_stats(docs).drop("text").orderBy("doc_id")


@query(
    "q36_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                (word, pos) -> (CAST('0x' || substring(md5(word), 1, 15) AS BIGINT) % 1099511627776) * pos % 1099511627776),
                'sum') AS BIGINT) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def q36_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from morphl_community_edition_spark.operators.textstats import fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return fingerprint(docs).drop("text").orderBy("doc_id")


@query(
    "q37_ngram_jaccard",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[gs:gs+2], ' ') AS s
           FROM w, LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(gs)),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
    SELECT a_doc, b_doc, floor((inter / (sa.n_sh + sb.n_sh - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
    FROM i JOIN sz sa ON sa.doc_id = a_doc JOIN sz sb ON sb.doc_id = b_doc
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.02
    ORDER BY a_doc, b_doc
    """,
)
def q37_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs — the verification oracle
    for the MinHash path, and itself oracle-checked vs DuckDB."""
    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    return exact_jaccard_pairs(docs, threshold=0.02).orderBy("a_doc", "b_doc")


@query(
    "q38_cosine_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT a.vec_id AS a_vec, b.vec_id AS b_vec,
           floor((list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))) * 1e6 + 0.5) / 1e6 AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
    ORDER BY a_vec, b_vec
    """,
)
def q38_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through the count-gated dispatcher
    (GEMM at fixture scale; LSH-bucketed candidates past the
    driver-memory ceiling — same contract columns). Threshold 0.4 ≈
    the fixture's top 0.05% pair tail (max pairwise cosine is 0.51 —
    the embeddings are not label-clustered)."""
    from morphl_community_edition_spark.catalog import table_path
    from morphl_community_edition_spark.plans.hints import dataset_file_bytes

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_threshold(
        emb, threshold=0.4, source_bytes=dataset_file_bytes(table_path(sf_dir, "embeddings"))
    ).orderBy("a_vec", "b_vec")


@query(
    "q39_ann_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    p AS (SELECT q.vec_id AS q_vec, c.vec_id AS n_vec,
           floor((list_dot_product(q.emb, c.emb)
                 / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb)))) * 1e6 + 0.5) / 1e6 AS sim
          FROM q JOIN e c ON c.vec_id != q.vec_id)
    SELECT q_vec, n_vec, sim, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_vec ORDER BY sim DESC, n_vec) AS rnk FROM p) t
    WHERE rnk <= 5
    ORDER BY q_vec, rnk
    """,
)
def q39_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact KNN baseline (K3). The approximate scale path
    is operators/similarity.lsh_cosine_topk (LSH-bucketed candidates),
    recall-tested against this in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return capped_order(cosine_topk_per_query(emb, probes, k=5), "q_vec", "rnk", cap=50)


# DuckDB twin of functions/hashing.md5_long60 + operators/dedup.
# simhash_signatures — the "64 correlated bit-aggs" q41's original
# no-oracle annotation thought intractable, made tractable by
# generate_series laterals (nibble-sum hash, per-bit majority vote).
# Shared by q41's signature oracle and q121's pair oracle.
_SIMHASH_SIG_CTE = """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd,
                  generate_subscripts(string_split(text, ' '), 1) AS wpos
           FROM documents),
hv AS (SELECT doc_id, wpos,
              sum((strpos('0123456789abcdef', substr(md5(wd), n.i, 1)) - 1)
                  * (1::BIGINT << (4 * (15 - n.i)))) AS hv
       FROM w, LATERAL unnest(generate_series(1, 15)) AS n(i)
       GROUP BY doc_id, wpos),
v AS (SELECT doc_id, b.b,
             CASE WHEN ((hv >> b.b) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM hv, LATERAL unnest(generate_series(0, 59)) AS b(b)),
s AS (SELECT doc_id, b, sum(vote) AS s FROM v GROUP BY doc_id, b),
sig AS (SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT)
                   AS simhash
        FROM s GROUP BY doc_id)
"""

# The Spark side of q121 uses the banded multi-index path, so a hash
# match proves BOTH the 60-bit signature math and the
# pigeonhole-lossless candidate generation.
_SIMHASH_PAIRS_ORACLE = _SIMHASH_SIG_CTE + """
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY a_doc, b_doc
"""

_SIMHASH_SIG_ORACLE = _SIMHASH_SIG_CTE + """
SELECT doc_id, simhash FROM sig ORDER BY doc_id
"""


@query("q41_simhash", oracle=_SIMHASH_SIG_ORACLE)
def q41_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs).orderBy("doc_id")


@query(
    "q40_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart, event_type,
           count(*) AS cnt, floor((CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) * 1e2 + 0.5) / 1e2 AS sum_value
    FROM {EVENTS_US} e
    GROUP BY wstart, event_type
    ORDER BY wstart, event_type
    """,
)
def q40_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling window (I1) — the S-suite
    replays the same rows through readStream and must agree."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), crnd(dsum(F.col("value")), 2).alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "cnt", "sum_value")
        .orderBy("wstart", "event_type")
    )


@query(
    "q47_sliding_window",
    oracle=f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    w AS (SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) - off AS wstart
          FROM e, (SELECT unnest([INTERVAL '0 minutes', INTERVAL '5 minutes']) AS off) t)
    SELECT wstart, event_type, count(*) AS cnt
    FROM w GROUP BY wstart, event_type ORDER BY wstart, event_type
    """,
)
def q47_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 batch twin, oracle-checked: a 10-minute window sliding by 5
    puts every event in exactly two windows; the DuckDB twin derives
    the same two starts per event from time_bucket."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("wstart"), "event_type", "cnt")
        .orderBy("wstart", "event_type")
    )


@query(
    "q57_data_profile",
    oracle="""
    SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_nulls,
           count(DISTINCT l_quantity) AS n_distinct,
           CAST(min(l_quantity) AS VARCHAR) AS min_s, CAST(max(l_quantity) AS VARCHAR) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag), CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
           count(DISTINCT l_linenumber), CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
    FROM lineitem
    ORDER BY col_name
    """,
)
def q57_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling gate (operators/quality_checks.py): one wide
    aggregation pass → long-format per-column stats.

    Note: doubles stringify identically here because l_quantity values
    are integral; general float formatting across engines is NOT
    canonical — profile consumers compare numbers, not strings."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile(li, ["l_quantity", "l_returnflag", "l_linenumber"]).orderBy("col_name")


@query(
    "q42_multimodal_bytes",
    oracle="""
    WITH c AS (SELECT doc_id, text FROM documents),
    s AS (SELECT doc_id, CAST(sum(ord(substring(text, i, 1))) AS BIGINT) % 256 AS mp
          FROM c, LATERAL unnest(generate_series(1, least(octet_length(CAST(text AS BLOB)), 64))) AS t(i)
          GROUP BY doc_id)
    SELECT c.doc_id AS doc_id,
           CAST(octet_length(CAST(c.text AS BLOB)) AS BIGINT) AS n_bytes,
           CAST(ord(substring(c.text, 1, 1)) AS INTEGER) AS first_byte,
           CAST(s.mp AS DOUBLE) AS fake_mean_pixel
    FROM c JOIN s USING (doc_id) ORDER BY doc_id
    """,
)
def q42_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 plumbing end-to-end: binary payload column → metadata struct
    → Arrow-batched mapInPandas feature extraction (stubbed decode,
    deterministic features → fully oracle-checkable)."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_media(docs)).orderBy("doc_id")


@query(
    "q85_tfidf_topterms",
    oracle="""
    WITH tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
                FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(w)
                GROUP BY doc_id, w),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (SELECT tf.doc_id AS doc_id, tf.term AS term,
                      tf.tf * CAST(floor(1e6 * CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS BIGINT)
                          AS score
               FROM tf, df, n WHERE df.term = tf.term),
    ranked AS (SELECT doc_id, term, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rk
               FROM scored)
    SELECT doc_id, term, score, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3 AND doc_id < 200
    ORDER BY doc_id, rk
    """,
)
def q85_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: TF-IDF top-3 terms per document, EXACT — so it can be an
    oracle hash-match rather than a tolerance check. The usual
    tf·ln(N/df) is not cross-engine exact (libm ln differs by ulps);
    score = tf · floor(1e6·N/df) ranks identically to tf·(N/df) at
    fixture scale and is pure integer arithmetic after one IEEE divide
    both engines do bit-identically. (The ML-pipeline TF-IDF —
    HashingTF+IDF with real logs — lives in ml/, tolerance-checked;
    this is the query-surface form.)

    Scale shape: tf is one map-side-combinable agg over exploded
    tokens; df re-aggregates tf's (term-partitioned) output; N is a
    1-row broadcast. The only fact-sized shuffles are the two
    term-keyed aggs, both partial-agg friendly; the final top-3 is a
    bounded window per doc. Document frequency MUST see the full
    corpus, but the probe predicate (doc_id < 200) is pushed onto the
    tf side entering the join+window — the window input shrinks ~25×
    while df/n stay corpus-wide (plan-gated in tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.filter(F.col("doc_id") < 200)
        .join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.floor(F.lit(1e6) * F.col("n_docs").cast("double") / F.col("df").cast("double")).cast("long")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "score", "rk")
        .orderBy("doc_id", "rk")
    )


@query("q89_ann_ivf")  # no oracle: approximate by design — recall vs exact KNN asserted in tests/test_approx.py
def q89_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path as a driver-visible entry: IVF approximate KNN
    (KMeans cells, n_probe/n_cells of the corpus searched per query)
    for the same 10-probe workload q39 answers exactly. Driver runs
    the rows-only check; accuracy is the recall suite's job."""
    from morphl_community_edition_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return capped_order(ivf_cosine_topk(emb, probes, k=5), "q_vec", "rnk", cap=50)


@query("q90_ann_lsh")  # no oracle: approximate by design — recall suite covers accuracy
def q90_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path #3 as a driver-visible entry: random-projection
    LSH approximate KNN for the q39 probe workload (bucket equi-join
    candidates instead of all-pairs). Rows-only driver check; recall
    vs exact KNN asserted in tests/test_approx.py."""
    from morphl_community_edition_spark.operators.similarity import lsh_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return capped_order(lsh_cosine_topk(emb, probes, k=5), "q_vec", "rnk", cap=50)


@query(
    "q94_embedding_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             greatest(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                    x -> abs(x)), 'max'), 1e-30) AS s,
             CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings),
    codes AS (
      SELECT vec_id, s,
             list_transform(emb, x -> CAST(floor(x * 127.0 / s + 0.5) AS BIGINT)) AS qe
      FROM q)
    SELECT vec_id,
           floor(s * 1e6 + 0.5) / 1e6 AS q_scale,
           CAST(list_aggregate(qe, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(qe, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(qe, 'max') AS BIGINT) AS q_max
    FROM codes
    ORDER BY vec_id
    """,
)
def q94_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K6 scale lever: per-vector symmetric int8 quantization
    (operators/similarity.quantize_embeddings_int8) — 4-8× smaller ANN
    codes with exact, branch-free round-half-up math, so the check is
    a true hash-match (per-vector scale + integer code checksums), not
    a tolerance. The whole expression runs inside whole-stage codegen:
    no UDF, no shuffle, a pure projection over the corpus."""
    from morphl_community_edition_spark.functions.rounding import crnd
    from morphl_community_edition_spark.operators.similarity import quantize_embeddings_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(emb)
    return q.select(
        "vec_id",
        crnd(F.col("q_scale"), 6).alias("q_scale"),
        F.aggregate("q_emb", F.lit(0).cast("long"), lambda s, x: s + x).alias("q_sum"),
        F.array_min("q_emb").alias("q_min"),
        F.array_max("q_emb").alias("q_max"),
    ).orderBy("vec_id")


@query(
    "q95_stopword_strip",
    oracle="""
    WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    k AS (SELECT doc_id, lang, ws,
                 list_filter(ws, x -> x NOT IN ('a', 'the')) AS kept
          FROM w)
    SELECT doc_id, lang,
           md5(array_to_string(kept, ' ')) AS clean_md5,
           CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
           CAST(len(kept) AS BIGINT) AS n_kept
    FROM k
    ORDER BY doc_id
    """,
)
def q95_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 cleaning stage: stopword removal as a pure higher-order
    array pipeline (split → filter → rejoin) — no regex (cross-engine
    regex dialects diverge), no UDF, fully inside codegen. The md5 of
    the cleaned text proves content equality byte-for-byte, not just
    counts; n_removed is non-zero for most fixture docs ('a'/'the'
    are in the generator vocabulary), so the check has real effect.
    Scale: a projection — zero shuffles beyond the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    kept = F.filter(ws, lambda x: ~x.isin("a", "the"))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.md5(F.array_join(kept, " ").cast("binary")).alias("clean_md5"),
            (F.size(ws) - F.size(kept)).cast("long").alias("n_removed"),
            F.size(kept).cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


@query("q121_simhash_hamming_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def q121_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup retrieval made exact AND oracle-checkable
    (round 6): q41's 60-bit frequency-weighted signatures, paired by
    Hamming distance <= 3 through the Manku-style 4x15-bit multi-index
    (operators/dedup.simhash_hamming_pairs). The DuckDB oracle
    recomputes the signatures arithmetically and brute-forces the pair
    join, so the hash match certifies the banded path loses no pair —
    the pigeonhole guarantee, verified rather than asserted."""
    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    return simhash_hamming_pairs(simhash_signatures(docs)).orderBy("a_doc", "b_doc")


# DuckDB twin of operators/dedup.minhash_lsh_pairs_exact: the same
# md5-derived 60-bit hash family (nibble-sum arithmetic, as in q121's
# oracle), 16 signature slots via conditional mins, 4 band keys,
# banded candidate self-join, exact-Jaccard verify. ws[a:b] slices
# keep it in DuckDB dialect (Spark would fold the chain differently;
# see test_sql_parity's dialect-gap contract).
_MINHASH_PAIRS_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[gs : gs + 4], ' ') AS s
       FROM w, LATERAL unnest(generate_series(1, len(ws) - 4)) AS t(gs)),
hx AS (SELECT doc_id, s, k.k,
              md5(CAST(k.k AS VARCHAR) || '|' || s) AS h
       FROM sh, LATERAL unnest(generate_series(0, 15)) AS k(k)),
hv AS (SELECT doc_id, s, k,
              sum((strpos('0123456789abcdef', substr(h, n.i, 1)) - 1)
                  * (1::BIGINT << (4 * (15 - n.i)))) AS hv
       FROM hx, LATERAL unnest(generate_series(1, 15)) AS n(i)
       GROUP BY doc_id, s, k),
sig AS (SELECT doc_id, k, min(hv) AS mh FROM hv GROUP BY doc_id, k),
band AS (SELECT doc_id, CAST(k // 4 AS INTEGER) AS b,
                md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)) AS bkey
         FROM sig GROUP BY doc_id, CAST(k // 4 AS INTEGER)),
cand AS (SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
         FROM band a JOIN band b
           ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (SELECT c.a_doc, c.b_doc, count(*) AS i
          FROM cand c
          JOIN sh x ON x.doc_id = c.a_doc
          JOIN sh y ON y.doc_id = c.b_doc AND y.s = x.s
          GROUP BY c.a_doc, c.b_doc),
j AS (SELECT i.a_doc AS a_doc, i.b_doc AS b_doc,
             i / CAST(sa.nsh + sb.nsh - i AS DOUBLE) AS jac
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.a_doc
      JOIN sz sb ON sb.doc_id = i.b_doc)
SELECT a_doc, b_doc, floor(jac * 1e6 + 0.5) / 1e6 AS jaccard
FROM j WHERE jac >= 0.5
ORDER BY a_doc, b_doc
"""


@query("q123_minhash_lsh_pairs_exact", oracle=_MINHASH_PAIRS_ORACLE)
def q123_minhash_lsh_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with a deterministic hash family, oracle-checked
    end-to-end (round 6): the reproducible twin of q28 (Spark ML
    MinHashLSH, engine-private coefficients — rows-only check by
    design). The DuckDB oracle recomputes the 16-slot signatures, the
    4 band keys, the banded candidate join, and the exact-Jaccard
    verify, so K2's candidate-generation machinery finally has
    hash-grade driver evidence rather than recall-tolerance evidence
    alone."""
    from morphl_community_edition_spark.operators.dedup import minhash_lsh_pairs_exact

    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    return minhash_lsh_pairs_exact(docs).orderBy("a_doc", "b_doc")


@query(
    "q124_ivf_full_probe_exact",
    # Verbatim q39 oracle: with n_probe == n_cells the IVF path must
    # EQUAL exact brute-force KNN — same result set, same tie-breaks.
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    p AS (SELECT q.vec_id AS q_vec, c.vec_id AS n_vec,
           floor((list_dot_product(q.emb, c.emb)
                 / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb)))) * 1e6 + 0.5) / 1e6 AS sim
          FROM q JOIN e c ON c.vec_id != q.vec_id)
    SELECT q_vec, n_vec, sim, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_vec ORDER BY sim DESC, n_vec) AS rnk FROM p) t
    WHERE rnk <= 5
    ORDER BY q_vec, rnk
    """,
)
def q124_ivf_full_probe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF retrieval plumbing, oracle-certified (round 6): run the
    ENTIRE q89 machinery — KMeans cells, broadcast-centroid probe
    routing, inverted-file candidate join, re-rank — with
    n_probe == n_cells, where the result must EQUAL exact brute-force
    KNN regardless of how KMeans clustered. A hash match against q39's
    brute-force oracle certifies assignment, routing, candidate
    generation, and re-rank end-to-end with exact evidence; q89 keeps
    the pruned (n_probe < n_cells) configuration as the scale path
    with recall-tolerance evidence."""
    from morphl_community_edition_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return ivf_cosine_topk(emb, probes, k=5, n_cells=16, n_probe=16).orderBy(
        "q_vec", "rnk"
    )


@query(
    "q126_vocab_coverage",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
    c AS (SELECT wd, count(*) AS cnt FROM w GROUP BY wd),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
    r AS (SELECT wd, cnt,
                 row_number() OVER (ORDER BY cnt DESC, wd) AS rk,
                 sum(cnt) OVER (ORDER BY cnt DESC, wd
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM c)
    SELECT CAST(rk AS INTEGER) AS rk, wd, CAST(cnt AS BIGINT) AS cnt,
           CAST(cum AS BIGINT) AS cum_cnt,
           floor(cum / CAST(t.total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS coverage
    FROM r, t WHERE rk <= 40 ORDER BY rk
    """,
)
def q126_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (round 6; the tokenizer-sizing step):
    rank the corpus vocabulary by frequency and report, for the top 40
    entries, the cumulative fraction of all corpus tokens a vocabulary
    truncated at that rank would cover — the curve that decides vocab
    size / OOV budget before training a tokenizer.

    Scale shape: the token explode + count is the standard two-phase
    hash agg; the GLOBAL rank window then runs over the AGGREGATED
    vocabulary frame — vocabulary-sized (10^5-10^6 entries at 100 TB),
    not corpus-sized — which is the q82 pattern: the one acceptable
    use of an unpartitioned window is over a dimension-sized frame
    that partial aggregation already shrank. The corpus-total join is
    a broadcast of a 1-row aggregate."""
    from pyspark.sql import Window

    from morphl_community_edition_spark.plans.hints import fan_out_narrow_scan

    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    c = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = c.agg(F.sum("cnt").cast("bigint").alias("total"))
    win = Window.orderBy(F.col("cnt").desc(), "wd")
    r = c.select(
        "wd",
        "cnt",
        F.row_number().over(win).alias("rk"),
        F.sum("cnt")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    return (
        r.filter(F.col("rk") <= 40)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("int").alias("rk"),
            "wd",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("cum").cast("bigint").alias("cum_cnt"),
            crnd(F.col("cum").cast("double") / F.col("total").cast("double"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("rk")
    )


def _bpe_cte_chain(k: int) -> str:
    """The shared unrolled CTE chain (w0 .. w{k}) of the BPE twin: k
    iterations of pair-count -> deterministic winner ->
    greedy-leftmost merge (the q121/q123 deterministic-twin device —
    same algorithm, independently formulated: the merge step here is
    the island-window form, the Spark side is a stack fold; see
    operators/bpe.py for the equivalence argument). Used by q127's
    merge oracle (reads v0..v{k-1}) and q131's tokenize oracle
    (reads the final segmented vocabulary w{k})."""
    parts = [
        """
    WITH w0 AS MATERIALIZED (
      SELECT wd AS word, CAST(count(*) AS BIGINT) AS freq,
             list_transform(generate_series(1, length(wd)),
                            i -> substring(wd, i, 1)) AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
      WHERE wd <> '' GROUP BY wd
    )"""
    ]
    for i in range(k):
        parts.append(f""",
    p{i} AS MATERIALIZED (
      SELECT syms[p] AS lhs, syms[p+1] AS rhs,
             CAST(sum(freq) AS BIGINT) AS pair_cnt
      FROM w{i}, LATERAL unnest(generate_series(1, len(syms)-1)) AS t(p)
      GROUP BY 1, 2
    ),
    v{i} AS MATERIALIZED (SELECT lhs, rhs, pair_cnt FROM p{i}
             ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1),
    pos{i} AS MATERIALIZED (
      SELECT word, freq, p, syms[p] AS sym,
             COALESCE(syms[p] = v.lhs AND syms[p+1] = v.rhs, FALSE) AS ismatch
      FROM w{i}, LATERAL unnest(generate_series(1, len(syms))) AS t(p), v{i} v
    ),
    tk{i} AS MATERIALIZED (
      SELECT word, p, (p - min(p) OVER (PARTITION BY word, isl)) % 2 = 0 AS taken
      FROM (SELECT word, p,
                   p - row_number() OVER (PARTITION BY word ORDER BY p) AS isl
            FROM pos{i} WHERE ismatch)
    ),
    m{i} AS MATERIALIZED (
      SELECT q.word, q.freq, q.p, q.sym, COALESCE(t.taken, FALSE) AS taken,
             lead(q.sym) OVER (PARTITION BY q.word ORDER BY q.p) AS nxt,
             COALESCE(lag(COALESCE(t.taken, FALSE))
                      OVER (PARTITION BY q.word ORDER BY q.p), FALSE) AS ptk
      FROM pos{i} q LEFT JOIN tk{i} t USING (word, p)
    ),
    w{i + 1} AS MATERIALIZED (
      SELECT word, any_value(freq) AS freq,
             list(CASE WHEN taken THEN sym || nxt ELSE sym END ORDER BY p)
               FILTER (WHERE taken OR NOT ptk) AS syms
      FROM m{i} GROUP BY word
    )""")
    return "".join(parts)


def _bpe_oracle(k: int) -> str:
    """q127's merge-list oracle: the CTE chain's k winners in order."""
    sel = "\n    UNION ALL ".join(
        f"SELECT {i + 1} AS rk, lhs, rhs, lhs || rhs AS merged, pair_cnt FROM v{i}"
        for i in range(k)
    )
    return _bpe_cte_chain(k) + (
        f"\n    SELECT CAST(rk AS INTEGER) AS rk, lhs, rhs, merged, pair_cnt"
        f" FROM ({sel}) ORDER BY rk"
    )


def _bpe_tokenize_oracle(k: int, top_n: int) -> str:
    """q131's oracle: subword-token frequencies from the final
    segmented vocabulary w{k}, each token occurrence weighted by word
    frequency — the tokenizer APPLY step replayed on the same chain."""
    return _bpe_cte_chain(k) + f"""
    SELECT CAST(rk AS INTEGER) AS rk, token, cnt FROM (
      SELECT token, CAST(sum(freq) AS BIGINT) AS cnt,
             row_number() OVER (ORDER BY sum(freq) DESC, token) AS rk
      FROM (SELECT freq, unnest(syms) AS token FROM w{k})
      GROUP BY token
    ) WHERE rk <= {top_n} ORDER BY rk
    """


BPE_K = 12


@query("q127_bpe_merges", oracle=_bpe_oracle(BPE_K))
def q127_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 12 BPE merges learned from the documents corpus (round
    7; the tokenizer-TRAINING step between q126's coverage curve and
    q103's sequence packing). Deterministic by construction
    (tie-break count DESC, lhs, rhs), so the oracle is exact, not a
    tolerance check.

    Scale shape: one corpus-scale word-count job, then a k-iteration
    driver-driven loop over the VOCABULARY frame only — pair counting
    is a vocab-sized shuffle, merge application a narrow array fold,
    and the frame is re-checkpointed per iteration so plan depth and
    input stay O(1) in k. See operators/bpe.py."""
    from morphl_community_edition_spark.operators.bpe import bpe_train

    return bpe_train(fan_out_narrow_scan(load_table(spark, sf_dir, "documents")), k=BPE_K)


_SEMDEDUP_EXACT_ORACLE = """
    WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings),
    qz AS MATERIALIZED (
      SELECT vec_id, code, list_dot_product(code, code) AS n2
      FROM (SELECT vec_id,
                   list_transform(emb, x -> floor(x * 127.0 / s + 0.5)) AS code
            FROM (SELECT vec_id, emb,
                         greatest(list_aggregate(list_transform(emb, x -> abs(x)),
                                                 'max'), 1e-30) AS s
                  FROM e))
    ),
    ed AS MATERIALIZED (
      SELECT a.vec_id AS s, b.vec_id AS d
      FROM qz a JOIN qz b ON a.vec_id < b.vec_id
      WHERE floor((list_dot_product(a.code, b.code)
            / (sqrt(a.n2 * b.n2) + 1e-30)) * 1e6 + 0.5) / 1e6 >= 0.4
    ),
    bi AS MATERIALIZED (SELECT s, d FROM ed UNION SELECT d AS s, s AS d FROM ed),
    lbl AS (
      SELECT s AS n, s AS comp FROM bi
      UNION
      SELECT bi.d AS n, lbl.comp FROM lbl JOIN bi ON bi.s = lbl.n
    ),
    mn AS (SELECT n, min(comp) AS comp FROM lbl GROUP BY n),
    f AS (SELECT e.vec_id, COALESCE(mn.comp, e.vec_id) AS comp
          FROM e LEFT JOIN mn ON mn.n = e.vec_id),
    sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size FROM f GROUP BY comp)
    SELECT f.vec_id AS vec_id, f.comp AS comp, sz.cluster_size AS cluster_size,
           f.vec_id = f.comp AS keep
    FROM f JOIN sz USING (comp) ORDER BY vec_id
"""


@query("q128_semantic_dedup_exact", oracle=_SEMDEDUP_EXACT_ORACLE)
def q128_semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the EXACT configuration (round 7; the q124
    full-probe device; integer scoring round 8): n_cells=1 makes the
    cell partition trivial — nothing depends on KMeans — so the
    per-vector verdict (duplicate group, size, keeper) must equal
    brute-force semantic dedup over the int8-quantized codes (q94's
    quantizer, q130's scoring device: the only accumulation is an
    integer dot product, so every tier and engine agrees bitwise),
    which the DuckDB oracle recomputes including the same
    quantization and the transitive closure (a recursive min-label
    CTE). A hash match certifies the quantized pair math, the
    connected-components closure, and the keeper election used by
    the clustered scale configuration (q129)."""
    from morphl_community_edition_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, n_cells=1).orderBy("vec_id")


@query("q129_semantic_dedup")
def q129_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the clustered scale configuration (16 KMeans
    cells): within-cell pair cost is sum(cell_size^2)/2 instead of
    corpus^2, and oversized cells re-split into block-pair tasks
    under the enforced memory valve (round 8) with a bitwise-
    identical edge set. No oracle BY DESIGN (cell boundaries depend
    on KMeans); correctness is covered by q128 (identical pipeline,
    exact configuration) plus the suite's refinement test — the
    clustered edge set is provably a subset of the exact one, so
    clusters can only split, never merge or invent members."""
    from morphl_community_edition_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, n_cells=16).orderBy("vec_id")


_QUANTIZED_RETRIEVAL_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    qz AS MATERIALIZED (
      SELECT vec_id, emb,
             list_transform(emb, x -> floor(x * 127.0 / s + 0.5)) AS code
      FROM (SELECT vec_id, emb,
                   greatest(list_aggregate(list_transform(emb, x -> abs(x)), 'max'),
                            1e-30) AS s
            FROM e)
    ),
    p AS (SELECT * FROM qz WHERE vec_id < 10),
    cand AS (
      SELECT p.vec_id AS q_vec, c.vec_id AS n_vec,
             floor((list_dot_product(p.code, c.code)
                   / (sqrt(list_dot_product(p.code, p.code)
                           * list_dot_product(c.code, c.code)) + 1e-30))
                   * 1e6 + 0.5) / 1e6 AS isim
      FROM p JOIN qz c ON c.vec_id != p.vec_id
    ),
    topc AS (
      SELECT q_vec, n_vec FROM (
        SELECT *, row_number() OVER (PARTITION BY q_vec
                                     ORDER BY isim DESC, n_vec) AS crk
        FROM cand) WHERE crk <= 50
    ),
    rer AS (
      SELECT t.q_vec, t.n_vec,
             floor((list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))))
                   * 1e6 + 0.5) / 1e6 AS sim
      FROM topc t JOIN e a ON a.vec_id = t.q_vec JOIN e b ON b.vec_id = t.n_vec
    )
    SELECT q_vec, n_vec, sim, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_vec
                                       ORDER BY sim DESC, n_vec) AS rnk FROM rer)
    WHERE rnk <= 5
    ORDER BY q_vec, rnk
"""


@query("q130_quantized_retrieval", oracle=_QUANTIZED_RETRIEVAL_ORACLE)
def q130_quantized_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized two-tier retrieval (round 7): candidates scored
    on q94's int8 codes (integer dot products — the memory-bound
    serving shape), top-50 per query exactly re-ranked in float,
    top-5 returned. Every stage is deterministic (exact quantization,
    integer candidate math, canonical rounding, id tie-breaks), so
    the DuckDB oracle replays the ENTIRE pipeline — not just the
    re-rank — and the hash match certifies both tiers. Recall vs the
    unquantized exact KNN (q39) is asserted by the tolerance suite;
    same 10-probe workload as q39/q124 for comparability."""
    from morphl_community_edition_spark.operators.similarity import (
        quantized_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return capped_order(
        quantized_cosine_topk(emb, probes, k=5, n_candidates=50),
        "q_vec", "rnk", cap=50,
    )


@query("q131_bpe_tokenize", oracle=_bpe_tokenize_oracle(BPE_K, 30))
def q131_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained 12-merge BPE tokenizer to the corpus and
    rank the top-30 subword tokens by frequency (round 7; the APPLY
    step that closes the tokenizer loop: train q127 → tokenize here →
    coverage q126 → pack q103). Deterministic end to end — the
    DuckDB oracle replays the same merges on the same unrolled chain
    and tokenizes from its final segmented vocabulary, so the hash
    match certifies training AND application together.

    Scale shape: identical to q127 plus one vocab-sized token agg and
    the q82/q126 dimension-sized rank window."""
    from morphl_community_edition_spark.operators.bpe import bpe_subword_frequencies

    return bpe_subword_frequencies(
        load_table(spark, sf_dir, "documents"), k=BPE_K, top_n=30
    ).orderBy("rk")


def _bpe_accounting_oracle(k: int) -> str:
    """q135's oracle: per-source token accounting replayed from the
    chain's final segmented vocabulary w{k} joined onto the exploded
    corpus words."""
    return _bpe_cte_chain(k) + f"""
    , wc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM w{k}),
    cw AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
           FROM documents),
    pd AS (SELECT source, doc_id, sum(n_tok) AS doc_tok
           FROM cw JOIN wc USING (word) WHERE word <> ''
           GROUP BY source, doc_id)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_tok) AS BIGINT) AS sum_tokens,
           CAST(max(doc_tok) AS BIGINT) AS max_doc_tokens
    FROM pd GROUP BY source ORDER BY source
    """


@query("q135_bpe_token_accounting", oracle=_bpe_accounting_oracle(BPE_K))
def q135_bpe_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget under the trained 12-merge tokenizer
    (round 7): the corpus-side APPLY — segmented vocabulary collapsed
    to (word, token cost), broadcast onto the exploded corpus, doc
    totals aggregated per source. This is the accounting q103's
    packing and any per-source token-budget mix consume; the oracle
    replays it off the same unrolled chain, so train + corpus apply
    hash-certify together."""
    from morphl_community_edition_spark.operators.bpe import bpe_token_accounting

    return bpe_token_accounting(
        load_table(spark, sf_dir, "documents"), k=BPE_K, group_col="source"
    )


@query("q136_ivf_quantized_full_probe", oracle=_QUANTIZED_RETRIEVAL_ORACLE)
def q136_ivf_quantized_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ANN (IVF routing × int8 scoring ×
    float re-rank) at n_probe == n_cells, where routing prunes
    nothing — so the result must equal the flat quantized pipeline
    and q130's oracle certifies the whole composition exactly (the
    q124 full-probe device applied one level up). The pruned
    configuration's recall rides the tolerance suite."""
    from morphl_community_edition_spark.operators.similarity import ivf_quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return capped_order(
        ivf_quantized_topk(emb, probes, k=5, n_candidates=50, n_cells=16, n_probe=16),
        "q_vec", "rnk", cap=50,
    )


# q141: fixed query-term set for the BM25 retrieval contract query —
# one rare term (df≈5% of docs) plus two common ones, so the idf
# spread actually drives the ranking.
BM25_TERMS = ("dup", "vector", "stream")
BM25_K1 = 1.2
BM25_B = 0.75


@query(
    "q141_bm25_retrieval",
    oracle=f"""
    WITH dl AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                FROM documents),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(dl) AS BIGINT) AS sumdl
           FROM dl),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
    tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM w WHERE term IN {BM25_TERMS!r}
            GROUP BY doc_id, term),
    dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tfq GROUP BY term),
    idf AS (SELECT term,
                   CAST(floor(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                                     / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5)
                        AS BIGINT) AS idf_slp
            FROM dfr, st),
    co AS (SELECT tfq.doc_id AS doc_id,
                  CAST(floor(CAST(idf_slp AS DOUBLE)
                             * ((CAST(tf AS DOUBLE) * ({BM25_K1} + 1))
                                / (CAST(tf AS DOUBLE)
                                   + {BM25_K1} * ((1 - {BM25_B})
                                                  + {BM25_B} * (CAST(dl.dl AS DOUBLE)
                                                                / (CAST(sumdl AS DOUBLE)
                                                                   / CAST(n_docs AS DOUBLE))))))
                             + 0.5) AS BIGINT) AS contrib
           FROM tfq JOIN dl USING (doc_id) JOIN idf ON tfq.term = idf.term, st),
    sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                  CAST(sum(contrib) AS BIGINT) AS score_scaled
           FROM co GROUP BY doc_id)
    SELECT doc_id, n_terms, score_scaled,
           floor((CAST(score_scaled AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6 AS score
    FROM sc ORDER BY score_scaled DESC, doc_id LIMIT 20
    """,
)
def q141_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval (round 7, K4 retrieval surface; the
    lexical half of the q110 cross-modal serving shape): score every
    document against a fixed query-term set with Okapi BM25
    (k1=1.2, b=0.75) and return the top-20. Complements q85's
    TF-IDF (per-doc top TERMS) with the other direction — per-QUERY
    top docs, the actual search-serving contract.

    Exactness: idf = ln(1+(N-df+0.5)/(df+0.5)) is rounded and
    integer-scaled ONCE on the term-count-sized idf frame (q138's
    device; ln at 1e-6 is the single empirical-agreement operand).
    The tf-normalization chain is written with IDENTICAL literal
    parenthesization in both engines — IEEE ops on equal inputs are
    bit-deterministic — and each per-term contribution is rounded to
    a BIGINT before the per-doc sum, so the sum is exact and
    order-independent, and the top-20 cut sorts on (BIGINT score,
    doc_id): no float comparison anywhere near the ranking.

    Scale shape: the term filter collapses the exploded corpus to
    matching (doc, term) pairs BEFORE any shuffle (map-side, ~|hits|
    rows); df/idf/corpus stats are term-count- and 1-row-sized
    broadcasts; the doc-length join's probe side is the tiny tf
    frame; the final top-20 is TakeOrderedAndProject (no global
    sort). The corpus is scanned exactly twice (lengths + terms),
    both scans column-pruned to (doc_id, text)."""
    from morphl_community_edition_spark.operators.text_index import (
        bm25_topk_inline,
    )

    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    return bm25_topk_inline(docs, BM25_TERMS, k=20, k1=BM25_K1, b=BM25_B)


@query(
    "q144_prefix_neardup_pairs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[gs:gs+2], ' ') AS s
           FROM w, LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(gs)),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    i AS (SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
    SELECT a_doc, b_doc, floor((inter / (sa.n_sh + sb.n_sh - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
    FROM i JOIN sz sa ON sa.doc_id = a_doc JOIN sz sb ON sb.doc_id = b_doc
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.5
    ORDER BY a_doc, b_doc
    """,
)
def q144_prefix_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (J >= 0.5) through the PPJoin
    PREFIX-FILTER engine (round 8, operators/dedup.py
    prefix_jaccard_candidates): candidates join only on each
    document's rarest ``n_sh - floor(t·n_sh) + 1`` shingles in the
    global df-ascending canonical order, an integer-scaled length
    filter rides the join, and an exact postings-restricted verify
    scores survivors. The DuckDB oracle is plain brute-force exact
    Jaccard at the same threshold — a hash match certifies that the
    prefix theorem's pruning dropped NOTHING (the q124 full-probe
    posture: the scale device must be invisible in the answer).

    Why it exists next to q37/q77 (postings engine): prefix filtering
    is the EXACT escape hatch for boilerplate-heavy corpora, where
    template shingles (df ≈ corpus size) make the direct join's
    Σ df² volume corpus²-impossible and the df valve's pruning would
    redefine the feature space; prefixes exclude max-df shingles by
    construction. Measured trade-off + when-to-use table in
    exact_jaccard_pairs' docstring; boilerplate pruning plan-gated in
    tests/test_plans.py; prefix==postings equality hypothesis-fuzzed."""
    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    return exact_jaccard_pairs(docs, threshold=0.5, method="prefix").orderBy(
        "a_doc", "b_doc"
    )


@query(
    "q148_heavy_hitter_words",
    oracle="""
    WITH g AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    t AS (SELECT count(*) AS n FROM g)
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM g GROUP BY word
    HAVING count(*) * 200 > (SELECT n FROM t)
    ORDER BY cnt DESC, word
    """,
)
def q148_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (round 8): every word with support
    > 1/200 of all tokens — stopword/boilerplate-head discovery, the
    frequency sibling of q29's per-language top terms. Computed the
    100 TB way (operators/heavyhitters.py): per-partition Misra-Gries
    summaries via one shuffle-free mapInPandas corpus pass (≤ k+1
    rows per partition cross the wire, NOT per-partition-distinct
    vocabulary), then a broadcast-join exact recount whose candidate
    filter collapses the exploded corpus map-side. MG candidates are
    a guaranteed superset (Agarwal et al. TODS'13 merge bound), the
    recount is exact arithmetic — so the plain GROUP BY/HAVING oracle
    certifies the whole composition: the sketch must be invisible in
    the answer (the q124/q144 posture)."""
    # fan-out BEFORE the explode (round 10): a small file's single
    # row group otherwise pins the MG pass AND the recount's map side
    # to one task; no-op at real scan widths
    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    return heavy_hitters_exact(words, "word", k=200).orderBy(
        F.col("cnt").desc(), "word"
    )


@query("q150_persisted_ann_serve")
def q150_persisted_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q136 production ANN served from a PERSISTED index (round 8;
    the q134 pattern applied to retrieval): KMeans cells + int8 codes
    + re-rank floats built ONCE into parquet (memoized per (session,
    sf_dir), cell-partitioned so probed cells prune at file level),
    then the probe batch served touching ONLY the index — no corpus
    re-fit, no re-quantization, no corpus read. At n_probe == n_cells
    routing prunes nothing, so the served result must equal
    ivf_quantized_topk == the flat quantized pipeline — q130's oracle
    certifies the whole build→persist→serve chain (the q114→q134
    shared-oracle device; pruned-probe recall rides the suite)."""
    from morphl_community_edition_spark.operators.ann_index import ann_index_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    path = _ensure_ann_index(spark, sf_dir)
    return capped_order(
        ann_index_topk(spark, path, probes, k=5, n_candidates=50, n_probe=16),
        "q_vec", "rnk", cap=50,
    )


def _ensure_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once session artifact for the persisted ANN index (round
    11: shared by q150 and the q157 hybrid serve). Same staleness class
    as q134: a rewritten fixture needs a REBUILT index, and a missing
    commit forces a build."""
    from morphl_community_edition_spark.operators.ann_index import build_ann_index

    return artifact(
        spark, "morphl_ann_index", sf_dir,
        build=lambda p: build_ann_index(load_table(spark, sf_dir, "embeddings"), p, n_cells=16),
        committed=_manifest.is_committed,
    )


# persisted serve == in-session full-probe pipeline by construction =>
# the same oracle certifies both (the q114→q134 device)
from morphl_community_edition_spark.queries import ORACLE_SQL as _ORACLE_SQL  # noqa: E402

_ORACLE_SQL["q150_persisted_ann_serve"] = _QUANTIZED_RETRIEVAL_ORACLE


@query("q151_persisted_bm25_serve")
def q151_persisted_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q141's BM25 retrieval served from a PERSISTED search index
    (round 8; completes the persisted-serving triple with q134 dedup
    and q150 ANN): postings/doc_stats/meta built in one corpus pass
    (memoized per (session, sf_dir), hash-bucket-partitioned so the
    query terms' buckets prune at FILE level via a driver-computed
    literal partition filter — md5 is the one hash Python and Spark
    spell identically), then the query served touching only the
    index. The scoring chain is q141's verbatim with corpus stats
    entering as exact BIGINT-valued doubles, so the served result
    EQUALS q141 for the same term set and q141's oracle certifies
    build→persist→serve (the q114→q134 device)."""
    from morphl_community_edition_spark.operators.text_index import bm25_topk

    path = _ensure_text_index(spark, sf_dir)
    return bm25_topk(spark, path, BM25_TERMS, k=20, k1=BM25_K1, b=BM25_B)


def _ensure_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once session artifact for the persisted BM25 index (round
    11: shared by q151 and the q157 hybrid serve); q134's staleness
    contract, as in _ensure_ann_index."""
    from morphl_community_edition_spark.operators.text_index import build_text_index

    return artifact(
        spark, "morphl_text_index", sf_dir,
        build=lambda p: build_text_index(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"), p
        ),
        committed=_manifest.is_committed,
    )


# persisted serve == q141 by construction for the same term set =>
# the same oracle certifies both (the q114→q134 device)
_ORACLE_SQL["q151_persisted_bm25_serve"] = _ORACLE_SQL["q141_bm25_retrieval"]


@query(
    "q152_heavy_hitter_bigrams",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT array_to_string(ws[gs:gs+1], ' ') AS bigram
          FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(gs)),
    t AS (SELECT count(*) AS n FROM g)
    SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
    FROM g GROUP BY bigram
    HAVING count(*) * 2000 > (SELECT n FROM t)
    ORDER BY cnt DESC, bigram
    """,
)
def q152_heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-fragment mining (round 8): every word BIGRAM with
    support > 1/2000 of all bigram positions — the template-phrase
    discovery step a dedup pipeline feeds its stop-shingle lists
    from. Same candidates-then-verify machinery as q148 at the scale
    point that actually stresses it: k=2000 Misra-Gries counters per
    partition over a combinatorially larger item space (bigrams ≈
    vocabulary², mostly rare — exactly where the shuffle-free MG
    pass beats the naive GROUP BY, whose map-side combine still
    ships per-partition-DISTINCT bigrams). Exact output, plain
    GROUP BY/HAVING oracle: the sketch must stay invisible."""
    # fan-out BEFORE the explode (round 10, same note as q148)
    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    ws = F.split(F.col("text"), " ")
    bigrams = docs.select(
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - 2),
                    lambda i: F.concat_ws(" ", F.element_at(ws, i + 1), F.element_at(ws, i + 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return heavy_hitters_exact(bigrams, "bigram", k=2000).orderBy(
        F.col("cnt").desc(), "bigram"
    )


@query(
    "q155_hybrid_retrieval_rrf",
    oracle=f"""
    WITH dl AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                FROM documents),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(dl) AS BIGINT) AS sumdl
           FROM dl),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
    tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM w WHERE term IN {BM25_TERMS!r}
            GROUP BY doc_id, term),
    dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tfq GROUP BY term),
    idf AS (SELECT term,
                   CAST(floor(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                                     / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5)
                        AS BIGINT) AS idf_slp
            FROM dfr, st),
    co AS (SELECT tfq.doc_id AS doc_id,
                  CAST(floor(CAST(idf_slp AS DOUBLE)
                             * ((CAST(tf AS DOUBLE) * ({BM25_K1} + 1))
                                / (CAST(tf AS DOUBLE)
                                   + {BM25_K1} * ((1 - {BM25_B})
                                                  + {BM25_B} * (CAST(dl.dl AS DOUBLE)
                                                                / (CAST(sumdl AS DOUBLE)
                                                                   / CAST(n_docs AS DOUBLE))))))
                             + 0.5) AS BIGINT) AS contrib
           FROM tfq JOIN dl USING (doc_id) JOIN idf ON tfq.term = idf.term, st),
    sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_scaled
           FROM co GROUP BY doc_id),
    lex AS (SELECT doc_id, rnk FROM (
              SELECT doc_id, row_number() OVER (ORDER BY score_scaled DESC, doc_id) AS rnk
              FROM sc) WHERE rnk <= 20),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id = 0),
    p AS (SELECT c.vec_id AS doc_id,
                 floor((list_dot_product(q.emb, c.emb)
                       / (sqrt(list_dot_product(q.emb, q.emb))
                          * sqrt(list_dot_product(c.emb, c.emb)))) * 1e6 + 0.5) / 1e6 AS sim
          FROM q JOIN e c ON c.vec_id != q.vec_id),
    vec AS (SELECT doc_id, rnk FROM (
              SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rnk
              FROM p) WHERE rnk <= 20),
    f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 CAST(l.rnk AS INTEGER) AS lex_rnk,
                 CAST(v.rnk AS INTEGER) AS vec_rnk,
                 CAST(COALESCE(1000000000000 // (60 + l.rnk), 0)
                      + COALESCE(1000000000000 // (60 + v.rnk), 0) AS BIGINT) AS rrf_scaled
          FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id),
    top AS (SELECT * FROM f ORDER BY rrf_scaled DESC, doc_id LIMIT 10)
    SELECT top.doc_id, lex_rnk, vec_rnk, rrf_scaled, d.source AS source
    FROM top JOIN documents d ON d.doc_id = top.doc_id
    ORDER BY rrf_scaled DESC, top.doc_id
    """,
)
def q155_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (round 11): fuse the lexical and vector
    rankers over the same corpus with reciprocal-rank fusion — the
    K4/K3 serving surfaces (q141 BM25, q12/q110 cosine KNN) composed
    into the contract a production search system actually exposes.
    Lexical side: BM25 top-20 for the fixed term set. Vector side:
    exact cosine top-20 for the vec_id=0 probe (doc_id == vec_id is
    the corpus's cross-modal key, as in q110). Fusion: RRF with the
    standard K=60, computed in exact BIGINT floor division
    (operators/fusion.py) so both engines rank identically — no
    cross-engine float comparison anywhere. Payload columns re-enter
    via a broadcast of the 10-row fused hit list against documents
    (hit-list side is always the small side at scale).

    Scale shape: each ranker's cost is its own (already-audited)
    plan; fusion joins two 20-row frames and sorts 40 rows — the
    merge step is rank-bounded no matter the corpus size."""
    from pyspark.sql import Window

    from morphl_community_edition_spark.operators.fusion import rrf_fuse
    from morphl_community_edition_spark.operators.text_index import bm25_topk_inline

    docs = fan_out_narrow_scan(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")

    lex = bm25_topk_inline(docs, BM25_TERMS, k=20, k1=BM25_K1, b=BM25_B).select(
        "doc_id",
        # re-rank the 20-row list; window over a k-bounded frame
        F.row_number()
        .over(Window.orderBy(F.col("score_scaled").desc(), "doc_id"))
        .alias("rnk"),
    )
    vec = cosine_topk_per_query(emb, emb.filter("vec_id = 0"), k=20).select(
        F.col("n_vec").alias("doc_id"), "rnk"
    )
    fused = (
        rrf_fuse({"lex": lex, "vec": vec})
        .orderBy(F.col("rrf_scaled").desc(), "doc_id")
        .limit(10)
    )
    # the payload join streams the documents table against the <=10-row
    # broadcast; cap the presentation sort so it plans
    # TakeOrderedAndProject instead of re-executing that stream for
    # range-boundary sampling (plans/hints.capped_order, round 13)
    return capped_order(
        load_table(spark, sf_dir, "documents")
        .join(F.broadcast(fused), "doc_id")
        .select("doc_id", "lex_rnk", "vec_rnk", "rrf_scaled", "source"),
        F.col("rrf_scaled").desc(), "doc_id", cap=10,
    )


@query(
    "q156_retrieval_eval",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    qz AS MATERIALIZED (
      SELECT vec_id, emb,
             list_transform(emb, x -> floor(x * 127.0 / s + 0.5)) AS code
      FROM (SELECT vec_id, emb,
                   greatest(list_aggregate(list_transform(emb, x -> abs(x)), 'max'),
                            1e-30) AS s
            FROM e)
    ),
    p AS (SELECT * FROM qz WHERE vec_id < 10),
    cand AS (
      SELECT p.vec_id AS q_vec, c.vec_id AS n_vec,
             floor((list_dot_product(p.code, c.code)
                   / (sqrt(list_dot_product(p.code, p.code)
                           * list_dot_product(c.code, c.code)) + 1e-30))
                   * 1e6 + 0.5) / 1e6 AS isim
      FROM p JOIN qz c ON c.vec_id != p.vec_id
    ),
    quant AS (SELECT q_vec, n_vec, crk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_vec
                                     ORDER BY isim DESC, n_vec) AS crk
        FROM cand) WHERE crk <= 10),
    eq AS (SELECT * FROM e WHERE vec_id < 10),
    ep AS (SELECT q.vec_id AS q_vec, c.vec_id AS n_vec,
                  floor((list_dot_product(q.emb, c.emb)
                        / (sqrt(list_dot_product(q.emb, q.emb))
                           * sqrt(list_dot_product(c.emb, c.emb)))) * 1e6 + 0.5) / 1e6 AS sim
           FROM eq q JOIN e c ON c.vec_id != q.vec_id),
    ex AS (SELECT q_vec, n_vec, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_vec
                                     ORDER BY sim DESC, n_vec) AS rnk
        FROM ep) WHERE rnk <= 10),
    per AS (SELECT ex.q_vec,
                   CAST(count(quant.crk) AS BIGINT) AS hits_at_k,
                   max(CASE WHEN ex.rnk = 1 THEN quant.crk END) AS top1
            FROM ex LEFT JOIN quant
              ON quant.q_vec = ex.q_vec AND quant.n_vec = ex.n_vec
            GROUP BY ex.q_vec)
    SELECT q_vec, hits_at_k,
           floor((CAST(hits_at_k AS DOUBLE) / 10.0) * 1e6 + 0.5) / 1e6 AS recall_at_k,
           CAST(COALESCE(1000000 // top1, 0) AS BIGINT) AS rr_scaled
    FROM per ORDER BY q_vec
    """,
)
def q156_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval evaluation (round 11): recall@10 and the
    top-1 reciprocal rank of the UN-reranked int8 candidate tier
    (quantized_candidate_rank — the stage whose quality loss q130's
    float re-rank can only repair if the true neighbors survive it),
    judged per probe against the exact float KNN (q39's ranker). The
    metric operator (similarity.retrieval_recall_mrr) consumes any
    two (q_vec, n_vec, rnk) frames; this query instantiates it on
    the exact-vs-quantized pair, the comparison that decides whether
    the 4× memory cut is admissible for a given corpus.

    Determinism: both rankers are exactly reproducible (integer
    candidate math / canonical rounding / id tie-breaks), hits are
    BIGINT counts and the reciprocal rank is BIGINT floor division —
    so the eval itself is hash-checkable, unlike classic ANN evals.

    Scale shape: the two rankers pay their audited corpus-scan
    plans; the eval joins two q·k-row rank lists and aggregates per
    probe — metric cost is rank-bounded regardless of corpus size."""
    from morphl_community_edition_spark.operators.similarity import (
        quantized_candidate_rank,
        retrieval_recall_mrr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_per_query(emb, probes, k=10)
    quant = quantized_candidate_rank(emb, probes, n=10).select(
        "q_vec", "n_vec", F.col("crk").alias("rnk")
    )
    return retrieval_recall_mrr(exact, quant, k=10).orderBy("q_vec")


@query(
    "q157_persisted_hybrid_serve",
    oracle=f"""
    WITH dl AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                FROM documents),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(dl) AS BIGINT) AS sumdl
           FROM dl),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
    tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM w WHERE term IN {BM25_TERMS!r}
            GROUP BY doc_id, term),
    dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tfq GROUP BY term),
    idf AS (SELECT term,
                   CAST(floor(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                                     / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5)
                        AS BIGINT) AS idf_slp
            FROM dfr, st),
    co AS (SELECT tfq.doc_id AS doc_id,
                  CAST(floor(CAST(idf_slp AS DOUBLE)
                             * ((CAST(tf AS DOUBLE) * ({BM25_K1} + 1))
                                / (CAST(tf AS DOUBLE)
                                   + {BM25_K1} * ((1 - {BM25_B})
                                                  + {BM25_B} * (CAST(dl.dl AS DOUBLE)
                                                                / (CAST(sumdl AS DOUBLE)
                                                                   / CAST(n_docs AS DOUBLE))))))
                             + 0.5) AS BIGINT) AS contrib
           FROM tfq JOIN dl USING (doc_id) JOIN idf ON tfq.term = idf.term, st),
    sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_scaled
           FROM co GROUP BY doc_id),
    lex AS (SELECT doc_id, rnk FROM (
              SELECT doc_id, row_number() OVER (ORDER BY score_scaled DESC, doc_id) AS rnk
              FROM sc) WHERE rnk <= 20),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    qz AS MATERIALIZED (
      SELECT vec_id, emb,
             list_transform(emb, x -> floor(x * 127.0 / s + 0.5)) AS code
      FROM (SELECT vec_id, emb,
                   greatest(list_aggregate(list_transform(emb, x -> abs(x)), 'max'),
                            1e-30) AS s
            FROM e)
    ),
    p AS (SELECT * FROM qz WHERE vec_id = 0),
    cand AS (
      SELECT c.vec_id AS n_vec,
             floor((list_dot_product(p.code, c.code)
                   / (sqrt(list_dot_product(p.code, p.code)
                           * list_dot_product(c.code, c.code)) + 1e-30))
                   * 1e6 + 0.5) / 1e6 AS isim
      FROM p JOIN qz c ON c.vec_id != p.vec_id
    ),
    topc AS (SELECT n_vec FROM (
        SELECT *, row_number() OVER (ORDER BY isim DESC, n_vec) AS crk
        FROM cand) WHERE crk <= 50),
    rer AS (
      SELECT t.n_vec AS doc_id,
             floor((list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))))
                   * 1e6 + 0.5) / 1e6 AS sim
      FROM topc t JOIN e a ON a.vec_id = 0 JOIN e b ON b.vec_id = t.n_vec
    ),
    vec AS (SELECT doc_id, rnk FROM (
              SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rnk
              FROM rer) WHERE rnk <= 20),
    f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                 CAST(l.rnk AS INTEGER) AS lex_rnk,
                 CAST(v.rnk AS INTEGER) AS vec_rnk,
                 CAST(COALESCE(1000000000000 // (60 + l.rnk), 0)
                      + COALESCE(1000000000000 // (60 + v.rnk), 0) AS BIGINT) AS rrf_scaled
          FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id),
    top AS (SELECT * FROM f ORDER BY rrf_scaled DESC, doc_id LIMIT 10)
    SELECT top.doc_id, lex_rnk, vec_rnk, rrf_scaled, d.source AS source
    FROM top JOIN documents d ON d.doc_id = top.doc_id
    ORDER BY rrf_scaled DESC, top.doc_id
    """,
)
def q157_persisted_hybrid_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q155's hybrid retrieval served ENTIRELY from the two persisted
    indexes (round 11; the production form): BM25 top-20 from the
    q151 text index (driver-computed literal bucket filter — static
    file pruning) fused via RRF with the two-tier quantized ANN
    top-20 for the vec_id=0 probe from the q150 index at full probe
    (cell-partitioned vectors, int8 candidates, float re-rank from
    the INDEX's stored floats — zero corpus reads at serve time on
    either leg). The vector leg is the q130 pipeline at n_probe ==
    n_cells, so the DuckDB oracle replays lexical chain, quantized
    two-tier chain, and the BIGINT RRF fusion exactly — one hash
    certifies build → persist → serve → fuse across BOTH indexes.

    Scale shape: each leg reads only its index's probed files (plan
    gates on q150/q151); fusion and payload join are rank-bounded as
    in q155. This is the complete search-serving composition a user
    of the engine would deploy: two build-once indexes, one fused
    answer."""
    from pyspark.sql import Window

    from morphl_community_edition_spark.operators.ann_index import ann_index_topk
    from morphl_community_edition_spark.operators.fusion import rrf_fuse
    from morphl_community_edition_spark.operators.text_index import bm25_topk

    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        spark, _ensure_text_index(spark, sf_dir), BM25_TERMS, k=20, k1=BM25_K1, b=BM25_B
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_scaled").desc(), "doc_id"))
        .alias("rnk"),
    )
    vec = ann_index_topk(
        spark,
        _ensure_ann_index(spark, sf_dir),
        emb.filter(F.col("vec_id") == 0),
        k=20,
        n_candidates=50,
        n_probe=16,
    ).select(F.col("n_vec").alias("doc_id"), "rnk")
    fused = (
        rrf_fuse({"lex": lex, "vec": vec})
        .orderBy(F.col("rrf_scaled").desc(), "doc_id")
        .limit(10)
    )
    # the payload join streams the documents table against the <=10-row
    # broadcast; cap the presentation sort so it plans
    # TakeOrderedAndProject instead of re-executing that stream for
    # range-boundary sampling (plans/hints.capped_order, round 13)
    return capped_order(
        load_table(spark, sf_dir, "documents")
        .join(F.broadcast(fused), "doc_id")
        .select("doc_id", "lex_rnk", "vec_rnk", "rrf_scaled", "source"),
        F.col("rrf_scaled").desc(), "doc_id", cap=10,
    )
