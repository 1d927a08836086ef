"""Deduplication family (K1/K2 + north-star extensions): exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (100 TB):
- exact: hash-groupBy — one shuffle on a 128-bit content hash, no
  payload comparison; `min(id)` keeper is deterministic (never
  dropDuplicates, whose survivor depends on partition order).
- MinHash LSH: candidates come from equi-joins on band buckets
  (approxSimilarityJoin), so cost is ~n·bucket-occupancy, not n².
- exact Jaccard: the shingle-inverted-index join (explode → join on
  shingle → count) — quadratic only in documents *sharing a shingle*;
  it is the verification oracle for the LSH path.
- SimHash: fully linear — per-word hash → per-bit majority → 60-bit
  signature; near-dups then cluster by signature (or by hamming-ball
  probing on signature bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from morphl_community_edition_spark.functions.hashing import md5_long60
from morphl_community_edition_spark.functions.rounding import crnd
from morphl_community_edition_spark.plans.hints import fan_out_narrow_scan
from morphl_community_edition_spark.session import memo

# incremental-dedup (q114/q134) contract constants — canonical home,
# shared by the direct form, its oracle f-string, and the persisted
# postings index so the "equal by construction" claim is structural
INCR_VALVE_FRAC = 0.02
INCR_VALVE_MIN_DF = 2
INCR_NEAR_THRESHOLD = 0.5


def _memo_count(df: DataFrame) -> int:
    """Corpus row count memoized per (session, semantic plan) — the
    fractional df-valve needs it at every plan BUILD, and bench's
    honest-warm loops rebuild the same valved query dozens of times.
    Keyed by semanticHash so any input frame can use it; the entry is
    untagged in the session registry, so every
    ``catalog.invalidate_tables`` drops it (a valve resolved from a
    stale count changes which shingles are cut)."""
    # columns ride in the key beside the 32-bit semanticHash (the
    # round-9 hints.py collision guard): a cross-plan collision would
    # resolve the df valve against the WRONG corpus size silently
    key = (df.semanticHash(), tuple(df.columns))
    return memo(df.sparkSession, "dedup.frac_count", key, df.count)


def resolve_doc_freq_limit(limit: int | float, n_docs: int, min_df: int = 2) -> int:
    """Resolve a df-valve threshold to an absolute document count.

    The valves in this family (``max_doc_freq`` here, q114's
    INCR_VALVE_FRAC, q106's STOP_SHINGLE_MAX_DF) accept two forms:

    - ``int >= 1`` — absolute count, used as-is. The caller owns the
      scale contract: a constant tuned at fixture scale does NOT
      transfer to a 100 TB corpus.
    - ``float in (0, 1)`` — fraction of the corpus document count:
      ``max(min_df, int(limit * n_docs))``. This is the production
      form — "a shingle in more than f of all documents is
      boilerplate" holds at any corpus size. ``n_docs`` costs the
      caller one count() pass (or comes free from table stats).
    """
    if isinstance(limit, bool) or limit is None:
        raise ValueError(f"df limit must be int>=1 or float in (0,1), got {limit!r}")
    if isinstance(limit, int):
        if limit < 1:
            raise ValueError(f"absolute df limit must be >= 1, got {limit}")
        return limit
    if 0.0 < limit < 1.0:
        return max(min_df, int(limit * n_docs))
    raise ValueError(f"fractional df limit must be in (0,1), got {limit!r}")


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic representative per distinct content.

    Representative = row with min(id) per content group, selected via
    row_number over a total order (SURVEY.md §5.3 rule: dropDuplicates
    is banned — nondeterministic survivor).

    The content hash goes through to_json(struct(...)) rather than
    concat_ws: concat_ws silently SKIPS null fields (and their
    separators), so (NULL,'x') and ('x',NULL) would collide; JSON
    keeps the field names, so null placement stays distinguishing."""
    h = F.md5(F.to_json(F.struct(*[F.col(c) for c in content_cols])).cast("binary"))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles") -> DataFrame:
    """Distinct n-word shingles per document (JVM-side, no UDF)."""
    words = F.split(F.col(text_col), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    # guard: docs shorter than n words have no shingles (sequence(0, <0)
    # would count DOWN in Spark, not return empty)
    empty = F.array().cast("array<string>")
    return df.withColumn(out, F.array_distinct(F.when(F.size(words) >= n, sh).otherwise(empty)))


def prefix_jaccard_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """PPJoin-style candidate generation for exact Jaccard >= t
    (prefix filtering, Chaudhuri et al. 2006 / Xiao et al. 2011 —
    public technique, implemented from first principles).

    Returns (base, cand):
      base — (doc, sh array<string>, n_sh) one row per doc with a
             non-empty distinct-shingle set (the verify side);
      cand — (a_doc, b_doc, na, nb) DISTINCT candidate pairs, a
             SUPERSET of all pairs with J >= threshold.

    Device: order every doc's shingles by one global canonical key
    (document frequency ascending, shingle lexicographic tie-break)
    and keep only the PREFIX of the first ``n_sh - floor(t·n_sh) + 1``
    tokens. If J(x,y) >= t then |x∩y| >= ceil(t·max(|x|,|y|)), and by
    the pigeonhole prefix theorem the two prefixes must share a token
    — so the prefix-postings self-join finds every true pair while the
    join cost collapses from Σ_all_shingles df² to Σ_prefix df², and
    prefixes are by construction the RAREST tokens (smallest df).
    Conservative roundings only (floor on t·n_sh lengthens the prefix;
    the length filter uses floor(t·1e6) integer math), so no true pair
    is ever dropped; the exact verify downstream discards false
    candidates. Length filter: J >= t forces min(n)·1e6 >=
    floor(t·1e6)·max(n) — applied inside the candidate join, before
    the distinct. Positional filter (round 11): each shared prefix
    token additionally carries its canonical RANK, and a row survives
    only if 1 + min(na-pa, nb-pb) can still reach the required
    overlap t/(1+t)·(na+nb) — the first-shared-token argument in the
    inline comment keeps the pair set a superset of all true pairs.

    Scale (100 TB): every stage is linear except the candidate join,
    whose cost is bounded by the prefix tokens' df² — boilerplate
    shingles (huge df) are exactly the ones prefix ordering pushes
    OUT of prefixes. No valve needed: an adversarial corpus where
    rare tokens are shared corpus-wide degrades to the direct join's
    cost, never worse. df attach is an s-keyed sort-merge join
    (shingle frame is corpus-scale — NOT broadcast); prefix cut is
    one doc-keyed window; verify joins are candidate-sized.

    When to use (measured, SCALE.md dedup family): on BENIGN df
    distributions the direct postings join wins — at the fixture
    (max_df 25/5k docs) AND its 10×-grown decade (max_df 250/50k) the
    prefix machinery's extra shuffles cost more than the 4× candidate
    cut saves (5.9 s vs 3.7 s base; 58 s vs 42 s grown). Prefix wins
    when Σ df² is dominated by high-df shingles — boilerplate headers,
    templates, licence blocks (df ≈ corpus size ⇒ direct volume ≈
    corpus², i.e. IMPOSSIBLE, while prefixes never contain them) —
    the realistic web-corpus shape, and the only EXACT option there
    (the max_doc_freq valve handles the same corpus by pruning, which
    redefines the Jaccard feature space).
    """
    shingled = word_shingles(
        fan_out_narrow_scan(docs.select(id_col, text_col)), text_col, n
    )
    base = shingled.select(
        F.col(id_col).alias("doc"),
        F.col("shingles").alias("sh"),
        F.size("shingles").alias("n_sh"),
    ).filter(F.col("n_sh") > 0)
    # checkpoint the exploded postings ONCE (round-9 review — the same
    # multiple-evaluation defect round 8 fixed in minhash_lsh_pairs_
    # exact): without it the CPU-bound shingle explode re-ran ~6×
    # across the df count, the rank join, both sides of the prefix
    # self-join, and both verify joins
    post = base.select("doc", "n_sh", F.explode("sh").alias("s")).localCheckpoint(
        eager=True
    )
    return base, _prefix_cand_from_post(post, threshold)


def _prefix_cand_from_post(post: DataFrame, threshold: float) -> DataFrame:
    """Prefix + positional candidate generation over a CHECKPOINTED
    postings frame (doc, n_sh, s) — the shared tail of
    prefix_jaccard_candidates and the auto dispatcher."""
    dfc = post.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = post.join(dfc, "s")
    w = Window.partitionBy("doc").orderBy("__df", "s")
    pref = (
        ranked.withColumn("__rk", F.row_number().over(w))
        .filter(
            F.col("__rk")
            <= F.col("n_sh") - F.floor(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("doc", F.col("n_sh").cast("long").alias("n_sh"), "s", F.col("__rk").cast("long").alias("pos"))
    )
    t6 = int(threshold * 10**6)  # trunc <= t·1e6: conservative
    # PPJoin POSITIONAL filter (round 11, Xiao et al. 2011 §3.2): a
    # token shared at canonical positions (pa, pb) bounds the overlap
    # by 1 + min(na-pa, nb-pb) (everything shared after it, plus it),
    # and J >= t forces overlap >= t/(1+t)·(na+nb). The per-ROW test
    # below keeps the candidate-pair SUPERSET guarantee: for any true
    # pair, its FIRST shared token in the canonical order has every
    # other shared token at or after it in BOTH orderings, so that
    # row's bound >= the true overlap and the row passes — a pair is
    # admitted if ANY of its rows passes (the distinct). Integer-
    # conservative: t6/(1e6+t6) <= t/(1+t), so the admitted set only
    # grows. All arithmetic in long (int·1e6 overflows at ~2.1e3
    # shingles under ANSI).
    positional = (
        (F.lit(1) + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")))
        * F.lit(10**6 + t6)
        >= F.lit(t6) * (F.col("na") + F.col("nb"))
    )
    cand = (
        pref.select(
            F.col("doc").alias("a_doc"), F.col("n_sh").alias("na"),
            F.col("pos").alias("pa"), "s",
        )
        .join(
            pref.select(
                F.col("doc").alias("b_doc"), F.col("n_sh").alias("nb"),
                F.col("pos").alias("pb"), "s",
            ),
            "s",
        )
        .filter(F.col("a_doc") < F.col("b_doc"))
        .filter(
            (F.col("na") * F.lit(10**6) >= F.lit(t6) * F.col("nb"))
            & (F.col("nb") * F.lit(10**6) >= F.lit(t6) * F.col("na"))
        )
        .filter(positional)
        .select("a_doc", "b_doc", F.col("na").cast("int").alias("na"), F.col("nb").cast("int").alias("nb"))
        .distinct()
    )
    return cand


def _verify_candidates_exact(
    cand: DataFrame, post: DataFrame, threshold: float
) -> DataFrame:
    """The ONE candidate-restricted exact-Jaccard verify (round-8
    review: it existed twice, line-for-line, in the prefix and
    LSH paths — the oracle claims "identical tuple-for-tuple" rest on
    this chain, so it must have a single home). ``cand`` =
    (a_doc, b_doc, na, nb) candidate pairs with their valved set
    sizes; ``post`` = (doc, s) distinct postings. The a-side join
    fans each pair out to its shingles, the (b_doc, s) equi-join
    counts the intersection, the raw int/int ratio thresholds, and
    crnd-6 renders the output."""
    inter = (
        cand.join(post.select(F.col("doc").alias("a_doc"), "s"), "a_doc")
        .join(post.select(F.col("doc").alias("b_doc"), "s"), ["b_doc", "s"])
        .groupBy("a_doc", "b_doc")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    raw_j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return inter.filter(raw_j >= threshold).select(
        "a_doc", "b_doc", crnd(raw_j, 6).alias("jaccard")
    )


def _prefix_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> DataFrame:
    """Prefix-filtered exact Jaccard: candidates from
    prefix_jaccard_candidates, then an EXACT verify restricted to the
    candidate pairs — a-side postings fan the pair out to its
    shingles, an equi-join on (b_doc, s) counts the intersection
    (verify volume Σ_cand |a| — narrow string rows, never the full
    shingle ARRAYS as join payload), and the same raw int/int ratio
    and crnd-6 output as the direct postings path, so the result is
    identical tuple-for-tuple (asserted by the suite's equality and
    hypothesis tests).

    Pairs whose exact intersection is EMPTY can't reach threshold > 0
    anyway, so the inner-join verify dropping them is correct (they
    were prefix-collision false candidates)."""
    post = _post_frame(docs, id_col, text_col, n)
    cand = _prefix_cand_from_post(post, threshold)
    # verify over the SAME checkpointed postings (round 11: the old
    # shape re-exploded base here — one extra full shingle pass)
    return _verify_candidates_exact(cand, post.select("doc", "s"), threshold)


def _post_frame(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """ONE corpus shingle pass, checkpointed: (doc, n_sh, s) distinct
    postings with the per-doc set size riding along. The single
    materialization every multi-consumer jaccard path shares."""
    shingled = word_shingles(
        fan_out_narrow_scan(docs.select(id_col, text_col)), text_col, n
    )
    return (
        shingled.select(
            F.col(id_col).alias("doc"),
            F.size("shingles").alias("n_sh"),
            F.explode("shingles").alias("s"),
        )
        .localCheckpoint(eager=True)
    )


def _postings_pairs_from_post(sh: DataFrame, threshold: float) -> DataFrame:
    """The direct inverted-index self-join over (doc, n_sh, s)
    postings — the measured-fastest path on benign df distributions.
    min() is exact: na/nb are constant within an (a_doc, b_doc)
    group."""
    raw_j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    inter = (
        sh.select(F.col("doc").alias("a_doc"), F.col("n_sh").alias("na"), "s")
        .join(
            sh.select(F.col("doc").alias("b_doc"), F.col("n_sh").alias("nb"), "s"),
            "s",
        )
        .filter(F.col("a_doc") < F.col("b_doc"))
        .groupBy("a_doc", "b_doc")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    return inter.filter(raw_j >= threshold).select(
        "a_doc", "b_doc", crnd(raw_j, 6).alias("jaccard")
    )


# Auto-dispatch crossover, round-11-continuation recalibration: the
# prefix path is chosen when the direct join's candidate volume Σdf²
# EXCEEDS this fraction of all-pairs volume n² — i.e. exactly when the
# postings join is within a constant of brute force and only excluding
# high-df shingles from prefixes can help (the boilerplate regime:
# near-universal shingles, max_df ~ n). The earlier mean-multiplicity
# rule (Σdf²/Σdf > 32) misfired on the grown 10× corpus: uniform
# df≈100 over 50k docs profiles at 105 but is only 11% of all-pairs —
# postings 28 s vs prefix 140 s measured (SCALE.md). Volume ratios on
# the calibration corpora: grown-10× 0.11, sf0.1 ~1e-3, boiler ~12 —
# two orders of magnitude on each side of 1.0.
AUTO_PREFIX_VOLUME_RATIO = 1.0

# Round 12 (verdict r11 #1): the collapse MACHINERY (rep join, post
# rebuild on reps, pair expansion) only runs when the measured
# duplicate mass clears this floor. The r11 shape ran it whenever ANY
# byte-dup existed — at sf0.1 the fixture has 8 dup pairs in 5 000
# docs (mx=2, mass 0.16%), and the machinery cost ~2.5 s for a win of
# ~nothing (interleaved A/B: auto 8.0 s vs postings 5.5 s, collapse
# probe itself 0.3 s). Below the floor the direct path handles the
# few dup pairs natively (identical texts share all shingles ⇒ the
# join finds their J=1 rows like any other pair).
AUTO_COLLAPSE_MIN_DUP_MASS = 0.10

# Round 13 (advice r12 #2): the mass gate alone misses the skewed-dup
# corpus — one byte-identical group of 5k copies in 100k docs is only
# 5% mass, but the direct candidate join pays C(c,2)·s̄ rows on that
# group's shingles (cost scales with the LARGEST group squared, not
# with total mass). Collapse therefore also fires when any single
# group exceeds this absolute size: at c=256 with ~10² shingles/doc
# the within-group candidate volume (~3.3M rows) already rivals the
# collapse machinery's fixed cost (~2 passes over ids), and it grows
# quadratically past it. Both paths stay exact; the gate is cost-only.
AUTO_COLLAPSE_MAX_GROUP = 256

# Σdf² profile sampling: df² is summed over a deterministic 1/16 of
# SHINGLE KEYS (xxhash64 pmod — keys, not rows, so each sampled
# shingle keeps its true df) and scaled back. The dispatch needs one
# order of magnitude of discrimination (measured ratios: benign 1e-3
# .. 0.11 vs boilerplate ~12) and boilerplate mass is spread over the
# many shingles of a template block, so a 1/16 key sample cannot miss
# the regime; the full groupBy(s) shuffle it replaces cost ~0.5-1 s
# at sf0.1.
AUTO_PROFILE_KEY_MOD = 16

# Observability snapshot of the most recent auto dispatch (round 13,
# verdict r12 #4: "the dispatch decision logged per variant"). Pure
# driver-side scalars the dispatcher already computed — written after
# each _auto_jaccard_pairs call so a sweep/profiling harness can
# record WHICH machinery ran (collapse fired? postings or prefix?)
# next to the timing it just measured, instead of inferring the
# decision from the timing. Diagnostics only; never read by engine
# code.
LAST_AUTO_DISPATCH: dict = {}


def _auto_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> DataFrame:
    """Measured-dispatch exact Jaccard (round 11, verdict r10 #7;
    re-staged round 12, verdict r11 #1, to make the low-dup common
    case pay only for probes, not machinery):

    1. **Dup probe** — one map-side-combinable count agg on
       sha2(text): max group size, rep count, doc count. Cost ~0.3 s
       at sf0.1; no collect_list, no checkpoint.
    2. **Identity collapse, gated on measured dup MASS or max group
       size** — only when duplicates exceed AUTO_COLLAPSE_MIN_DUP_MASS
       of the corpus, or any single byte-identical group reaches
       AUTO_COLLAPSE_MAX_GROUP copies (cost is per-group quadratic, so
       one huge group below the mass gate is still worth collapsing —
       advice r12 #2), is the candidate machinery run on one
       representative per byte-identical group (exact duplication multiplies every
       shingle df by the copy count, so the candidate join pays
       (df·c)² while the distinct-text problem is df² — on the 90%-
       duplicate worst case this is the whole fight), with pairs
       expanded back afterwards (identical texts ⇒ identical jaccard;
       within-group pairs are J=1 when the text shingles at all).
       Below the gate the direct path covers the few dup pairs
       natively and the expansion machinery never runs.
    3. **df-profile dispatch** — a key-sampled aggregate over the
       postings estimates the direct join's candidate volume Σdf²;
       when it exceeds AUTO_PREFIX_VOLUME_RATIO × n² (the boilerplate
       regime, where the postings join is within a constant of
       all-pairs brute force) the prefix+positional path runs, else
       the direct postings join. Both return the identical pair set;
       the profile only decides the cost.

    Scale: the probe is the exact-dedup agg a production pipeline
    runs anyway; the profile reads the checkpointed postings once at
    1/AUTO_PROFILE_KEY_MOD key density. Output expansion is
    answer-sized (the true pair set IS quadratic in copy count —
    nothing can shrink the answer)."""
    keyed = docs.select(
        F.col(id_col).alias("m"), F.col(text_col).alias("t")
    ).withColumn("h", F.sha2(F.col("t").cast("binary"), 256))
    _gs = (
        keyed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("gsz"))
        .agg(
            F.max("gsz").alias("mx"),
            F.count(F.lit(1)).alias("n_reps"),
            F.sum("gsz").alias("n_docs"),
        )
        .collect()[0]
    )
    mx, n_reps, n_docs = _gs["mx"] or 0, _gs["n_reps"] or 0, _gs["n_docs"] or 0
    collapse = mx > 1 and (
        (n_docs - n_reps) > AUTO_COLLAPSE_MIN_DUP_MASS * n_docs
        or mx >= AUTO_COLLAPSE_MAX_GROUP
    )
    if not collapse:
        reps = docs
        n_eff = n_docs
        groups = None
    else:
        # narrow checkpoint (ids only — never the text): reused by the
        # reps join, both expansion sides, and the within-group explode
        groups = (
            keyed.groupBy("h")
            .agg(
                F.min("m").alias("doc"),
                F.sort_array(F.collect_list("m")).alias("members"),
                F.count(F.lit(1)).alias("gsz"),
            )
            .localCheckpoint(eager=True)
        )
        reps = groups.select(F.col("doc").alias(id_col)).join(
            docs.select(id_col, text_col), id_col
        )
        n_eff = n_reps
    post = _post_frame(reps, id_col, text_col, n)
    prof = (
        post.filter(F.pmod(F.xxhash64("s"), F.lit(AUTO_PROFILE_KEY_MOD)) == 0)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * F.col("df")).cast("double").alias("v"))
        .collect()[0]
    )
    vhat = float(AUTO_PROFILE_KEY_MOD) * float(prof["v"] or 0.0)
    use_prefix = n_eff > 1 and vhat > AUTO_PREFIX_VOLUME_RATIO * float(n_eff) ** 2
    LAST_AUTO_DISPATCH.clear()
    LAST_AUTO_DISPATCH.update(
        {
            "collapse": bool(collapse),
            "max_group": int(mx),
            "dup_mass": round((n_docs - n_reps) / n_docs, 4) if n_docs else 0.0,
            "n_docs": int(n_docs),
            "n_eff": int(n_eff),
            "vhat_sampled_df2": vhat,
            "volume_ratio": round(vhat / float(n_eff) ** 2, 6) if n_eff > 1 else None,
            "method": "prefix" if use_prefix else "postings",
        }
    )
    if use_prefix:
        cand = _prefix_cand_from_post(post, threshold)
        rep_pairs = _verify_candidates_exact(
            cand, post.select("doc", "s"), threshold
        )
    else:
        rep_pairs = _postings_pairs_from_post(post, threshold)
    if not collapse:
        return rep_pairs

    mem = groups.select("doc", "members")
    expanded = (
        rep_pairs.join(
            mem.select(F.col("doc").alias("a_doc"), F.col("members").alias("ma")),
            "a_doc",
        )
        .join(
            mem.select(F.col("doc").alias("b_doc"), F.col("members").alias("mb")),
            "b_doc",
        )
        .select(F.explode("ma").alias("x"), F.col("mb"), "jaccard")
        .select("x", F.explode("mb").alias("y"), "jaccard")
        .select(
            F.least("x", "y").alias("a_doc"),
            F.greatest("x", "y").alias("b_doc"),
            "jaccard",
        )
    )
    # within-group pairs: identical texts, J = 1.0 exactly — but ONLY
    # for groups whose text shingles at all (empty shingle sets have
    # no defined jaccard and the direct path emits nothing for them)
    shingling_reps = post.select("doc").distinct()
    within = (
        groups.filter(F.col("gsz") > 1)
        .join(shingling_reps, "doc")
        .select(F.explode("members").alias("x"), "members")
        .select("x", F.explode("members").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("a_doc"),
            F.col("y").alias("b_doc"),
            crnd(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    return expanded.unionByName(within)


def exact_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int | float | None = None,
    method: str = "postings",
) -> DataFrame:
    """Exact pairwise Jaccard over n-word shingles via inverted index.

    Returns (a_doc, b_doc, jaccard) for pairs with J >= threshold.

    ``method`` picks the candidate machinery — every choice returns
    the IDENTICAL pair set (exact verification defines the result;
    the method only bounds which pairs get scored):

    - ``"postings"`` (default) — the direct inverted-index self-join;
      candidate cost Σ_shingle df², flowing straight into a hash
      partial-agg. MEASURED fastest on benign df distributions (the
      fixture and its 10×-grown decade — see
      prefix_jaccard_candidates' docstring for the numbers), and the
      only path that composes with the df valve.
    - ``"prefix"`` — PPJoin prefix filtering
      (prefix_jaccard_candidates): join only on each doc's rarest
      ``n_sh - floor(t·n_sh) + 1`` shingles, verify candidates
      exactly. The EXACT boilerplate escape hatch: when high-df
      template shingles dominate (df ≈ corpus size ⇒ the direct join
      is corpus²-impossible), prefixes never contain them and the
      cost stays near-linear. Meaningless below ~t=0.2 (prefix ≈
      whole set).

    - ``"auto"`` (round 11; re-staged round 12) — MEASURED dispatch:
      probe byte-duplication with one sha2 count agg, collapse to one
      representative per identical text ONLY when dup mass clears
      AUTO_COLLAPSE_MIN_DUP_MASS (duplication multiplies candidate
      cost by copy-count² while the distinct-text problem is
      unchanged), estimate the postings' candidate volume Σdf² from a
      deterministic 1/16 shingle-key sample, and run prefix when
      Σdf² > AUTO_PREFIX_VOLUME_RATIO·n² / postings below; collapsed
      pairs expand back (identical texts ⇒ identical jaccard,
      within-group J=1) so the pair set stays tuple-identical.

    The dispatch is the caller's corpus-shape knob, not magic: benign
    df → postings; boilerplate-heavy → prefix; duplication-heavy or
    unknown → auto; boilerplate-heavy AND a lossy feature cut
    acceptable → postings + max_doc_freq.

    ``max_doc_freq`` is the scale valve (SCALE.md, dedup family): the
    candidate join's cost is Σ_shingle df², dominated by stop-shingles
    shared by everything. Dropping shingles with document frequency >
    max_doc_freq bounds the worst term; intersection AND union counts
    both use the pruned shingle sets, so the ratio stays a true
    Jaccard over the reduced feature space (slightly conservative for
    boilerplate-heavy pairs — exactly the pairs MinHash still catches).
    Two forms (resolve_doc_freq_limit): an int is an absolute count
    (caller owns the scale contract); a float in (0,1) is a fraction
    of the corpus document count — the production form; resolving it
    costs one count() job here. The valve composes with the postings
    path only (a pruned feature space changes what "Jaccard" means,
    so the prefix theorem's premise would shift under it).

    The input is fanned out first (plans/hints.fan_out_narrow_scan):
    shingling is CPU-bound per row, and a single-row-group corpus file
    otherwise pins both explode branches to one task — measured 2.1×
    on the q93 end-to-end pipeline at sf0.1; no-op on real multi-split
    tables.
    """
    if method not in ("postings", "prefix", "auto"):
        raise ValueError(f"unknown method {method!r}")
    if method == "prefix":
        if max_doc_freq is not None:
            raise ValueError("the df valve composes with the postings path only")
        return _prefix_jaccard_pairs(docs, id_col, text_col, n, threshold)
    if method == "auto":
        if max_doc_freq is not None:
            raise ValueError("the df valve composes with the postings path only")
        return _auto_jaccard_pairs(docs, id_col, text_col, n, threshold)
    shingled = word_shingles(
        fan_out_narrow_scan(docs.select(id_col, text_col)), text_col, n
    )
    raw_j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    if max_doc_freq is None:
        # fast path: the per-doc set size is known BEFORE the explode
        # (size of the distinct-shingle array), so it rides the
        # postings as an 8-byte column and the two sizes joins — plus
        # a third evaluation of the shingle pipeline — disappear.
        sh = shingled.select(
            F.col(id_col).alias("doc"),
            F.size("shingles").alias("n_sh"),
            F.explode("shingles").alias("s"),
        )
        return _postings_pairs_from_post(sh, threshold)
    # valved path: set sizes must count the PRUNED shingle sets (so the
    # ratio stays a true Jaccard over the reduced feature space), which
    # is only known after the df cut — hence the explicit sizes joins.
    df_limit = resolve_doc_freq_limit(
        max_doc_freq, _memo_count(docs) if isinstance(max_doc_freq, float) else 0
    )
    sh = shingled.select(F.col(id_col).alias("doc"), F.explode("shingles").alias("s"))
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    # anti-join against the STOP set (df > limit), not an inner join
    # with the keep list (round-8 review): the keep list is the
    # surviving vocabulary — corpus-scale, the one thing the sibling
    # prefix path's docstring forbids broadcasting — while the stop
    # set is boilerplate-sized by construction (few shingles exceed a
    # fractional df limit), the same bounded-broadcast argument the
    # incremental-index valve makes. Same rows kept either way:
    # df_counts covers every s in sh.
    sh = sh.join(
        F.broadcast(df_counts.filter(F.col("__df") > df_limit).select("s")),
        "s",
        "left_anti",
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("a_doc"), "s")
    b = sh.select(F.col("doc").alias("b_doc"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("a_doc") < F.col("b_doc"))
        .groupBy("a_doc", "b_doc")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("a_doc"), F.col("n_sh").alias("na")), "a_doc")
        .join(sizes.select(F.col("doc").alias("b_doc"), F.col("n_sh").alias("nb")), "b_doc")
        # filter on the RAW ratio (int/int division — identical doubles
        # on any engine), round only for output
        .filter(raw_j >= threshold)
        .select("a_doc", "b_doc", crnd(raw_j, 6).alias("jaccard"))
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 12,
    max_jaccard_distance: float = 0.8,
    num_features: int = 1 << 18,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidates (K2, the 100 TB path).

    shingle → HashingTF sparse vector → MinHash signatures → banded
    LSH bucket join. distCol is the exact Jaccard distance *of the
    hashed-feature sets* on surviving candidates, so recall vs
    exact_jaccard_pairs is the quality metric (tested ≥0.9).

    Table count trades recall for candidate volume: Spark's MinHashLSH
    has single-hash bands (OR-amplification only), so candidate
    probability is 1-(1-J)^T — at T=12, J=0.2 pairs surface with ~93%
    probability while the J≈0.02 background (most of the corpus)
    generates ~5× fewer candidate evaluations than T=32 did (measured
    55s → ~10s at sf0.1).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # fan out before the CPU-bound shingle+TF+MinHash chain (2.9×
    # measured at sf0.1 on a single-row-group corpus; no-op at scale)
    sh = word_shingles(fan_out_narrow_scan(docs.select(id_col, text_col)), text_col, n)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True)
    feats = tf.transform(sh).filter(F.expr("size(shingles) > 0"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, threshold=max_jaccard_distance, distCol="jdist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("a_doc"),
            F.col(f"datasetB.{id_col}").alias("b_doc"),
            crnd(1 - F.col("jdist"), 6).alias("jaccard"),
        )
        .filter(F.col("a_doc") < F.col("b_doc"))
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """SimHash: 60-bit per-document signature by per-bit majority vote
    over word hashes (frequency-weighted — duplicates kept).

    Linear in corpus size: explode(words) × bits rows, two hash
    aggregations, all JVM-side. Near-dup = small hamming distance.
    """
    words = fan_out_narrow_scan(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    hashed = words.withColumn("hv", md5_long60(F.col("word")))
    bit_votes = (
        hashed.select("doc", "hv", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"))
        .withColumn("vote", F.when(F.expr("(hv >> bit) & 1") == 1, 1).otherwise(-1))
        .groupBy("doc", "bit")
        .agg(F.sum("vote").alias("s"))
    )
    sig = bit_votes.groupBy("doc").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << bit")).otherwise(0)
        ).alias("simhash")
    )
    # per-DOC contract (round-8 review): a NULL-text doc produced no
    # word rows and silently vanished from the signature table; it now
    # keeps a row with the empty-vote signature (all majorities 0 →
    # simhash 0), matching what a zero-token doc's votes would yield
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(sig, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("simhash"), F.lit(0).cast("bigint")).alias("simhash"),
        )
    )


def simhash_hamming_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, via
    multi-index banding (Manku et al., WWW'07): split the signature
    into ``n_bands`` contiguous blocks; by pigeonhole, any pair within
    Hamming distance ``max_hamming`` < ``n_bands`` agrees EXACTLY on
    at least one block, so the per-block equi-join is a lossless
    candidate generator and the post-filter makes the result exact —
    no n² comparison anywhere.

    Scale shape (100 TB): n_bands equi-joins keyed by (band,
    15-bit block value) — ~2^15 buckets per band here; candidate
    volume is sum-of-C(bucket,2), bounded by block width (production
    indexes widen blocks / add permuted tables to keep buckets small).
    Candidates are distinct-ed on the pair key before the bit_count
    filter, all JVM-side codegen.

    Round 13 (guide §7.2 duplicated subtrees, §8 lightweight proxy):
    the band self-join references ``bands`` — and therefore the whole
    signature lineage (word explode × ``bits`` bit-votes × two aggs
    when fed from simhash_signatures) — on BOTH sides; the q121
    before-plan carried 4 scans of the corpus. The signature frame is
    the 16-byte-per-doc proxy, so it is pinned once with an eager
    localCheckpoint and both join sides read the pin. Interleaved A/B
    (tools/ab_simhash.py, sf0.1): best 1.171 → 1.077 s, B under A in
    all 4 rounds; results identical in-run."""
    assert max_hamming < n_bands, "pigeonhole guarantee needs max_hamming < n_bands"
    sig = sig.localCheckpoint()
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = sig.select(
        F.col(id_col).alias("doc"),
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"({sig_col} >> {width * i}) & {mask}").alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "sig", F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("a_doc"),
            F.col("b.doc").alias("b_doc"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(hamming <= max_hamming).select(
        "a_doc", "b_doc", hamming.cast("int").alias("hamming")
    )


def minhash_lsh_pairs_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash LSH near-dup pairs with a fully DETERMINISTIC hash
    family (md5-derived, no RNG, no engine-specific sketch), so the
    whole candidate-generation + exact-verify pipeline is
    oracle-checkable — the reproducible twin of minhash_neardup_pairs
    (Spark ML MinHashLSH, whose hash coefficients are engine-private).

    Pipeline: distinct n-gram shingles → ``num_hashes`` signature
    slots, each min(md5_long60(k || '|' || shingle)) — ONE hash agg
    with num_hashes min columns, map-side partial combine — →
    ``n_bands`` band keys (md5 of the band's slot values) → banded
    equi-self-join for candidates → EXACT Jaccard (inverted-index
    intersection restricted to candidate pairs) → threshold filter.

    Scale shape (100 TB): candidates are bucket-bounded by the band
    keys (never n²); the exact-verify join streams shingles against
    the candidate-pair set, so its cost is candidate-bounded, not
    corpus²; probability a J-pair surfaces is 1-(1-J^r)^b with
    r = num_hashes/n_bands rows per band (r=4, b=4: J=0.9 → 0.986,
    J=0.5 → 0.23 — tune num_hashes/n_bands per target threshold,
    exactly the Spark ML tradeoff but reproducible)."""
    if num_hashes % n_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by n_bands "
            f"({n_bands}): trailing signature slots would be computed but "
            "never enter any band key, silently lowering the tuned "
            "1-(1-J^r)^b recall"
        )
    rows = num_hashes // n_bands
    # fan out before the CPU-bound shingle explode (the same gate
    # exact_jaccard_pairs applies — without it a single-row-group
    # corpus pins shingling to the scan's 2 tasks; measured 7.8 s →
    # ~2 s on the q123 contract query at sf0.1)
    # consumed by the signature agg, the size agg, and BOTH sides of
    # the verify join — without the eager checkpoint the CPU-bound
    # shingle explode re-ran ~5× (round-8 review; the same
    # multiple-evaluation defect the connected-components tier gate
    # had); the checkpointed frame is postings-sized
    sh = (
        word_shingles(
            fan_out_narrow_scan(docs.select(id_col, text_col)), text_col, n
        )
        .select(F.col(id_col).alias("doc"), F.explode("shingles").alias("s"))
        .localCheckpoint(eager=True)
    )
    sig = sh.groupBy("doc").agg(
        *[
            F.min(md5_long60(F.concat(F.lit(f"{k}|"), F.col("s")))).alias(f"mh{k}")
            for k in range(num_hashes)
        ]
    )
    bands = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{b * rows + i}").cast("string")
                                    for i in range(rows)
                                ],
                            ).cast("binary")
                        ).alias("bkey"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.b").alias("b"), F.col("bk.bkey").alias("bkey"))
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("a_doc"), F.col("b.doc").alias("b_doc"))
        .distinct()
    )
    sz = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("nsh"))
    cand_sized = cand.join(
        sz.withColumnRenamed("doc", "a_doc").withColumnRenamed("nsh", "na"), "a_doc"
    ).join(
        sz.withColumnRenamed("doc", "b_doc").withColumnRenamed("nsh", "nb"), "b_doc"
    )
    return _verify_candidates_exact(cand_sized, sh, threshold)
