"""Corpus-quality metrics & gates (reference ``scripts/evaluate_corpus.py``).

The reference's analytics layer (A5-A9, SURVEY.md §2.4) re-expressed
as single-pass DataFrame aggregations over extracted records, plus the
hard-coded quality gates (``evaluate_corpus.py:290-301``). Also the
per-doc weighted validation score (``validate_extractions.py:198-246``
shape: meta 30 + abstract 20 + sections 30 + figures 10 + tables 10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.functions.text_stats import noise_ratio

CANONICAL = ["abstract", "introduction", "materials_and_methods", "results",
             "discussion", "conclusions", "results_and_discussion"]


def _rate(cond) -> F.Column:
    return F.avg(F.when(cond, 1.0).otherwise(0.0))


def corpus_quality(records: DataFrame) -> DataFrame:
    """One-row corpus metrics + boolean gates (A5 + A8)."""
    abstract = F.col("sections").getItem("abstract")
    n_canon = F.size(F.filter(
        F.map_keys(F.col("sections")), lambda k: k.isin(CANONICAL)))
    all_text = F.concat_ws(" ", F.map_values(F.col("sections")))
    per_doc = records.select(
        F.col("conv_id"),
        F.col("title").isNotNull().alias("has_title"),
        (F.col("doi").isNotNull() | F.col("journal").isNotNull()).alias("has_doi_or_journal"),
        (F.coalesce(F.length(abstract), F.lit(0)) >= 30).alias("abstract_present"),
        n_canon.alias("n_canonical"),
        (F.size("figures") + F.size("tables") > 0).alias("has_media"),
        F.size("figures").alias("n_figures"),
        F.size("tables").alias("n_tables"),
        F.size("references").alias("n_references"),
        noise_ratio(all_text).alias("noise"),
        F.lower(F.col("doi")).alias("doi_lc"),
    )
    dup_doi = (
        per_doc.where(F.col("doi_lc").isNotNull())
        .groupBy("doi_lc").count().where(F.col("count") > 1)
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("dup_doi_docs"))
    )
    agg = per_doc.agg(
        F.count("*").alias("total_docs"),
        _rate(F.col("has_title")).alias("title_rate"),
        _rate(F.col("has_doi_or_journal")).alias("doi_or_journal_rate"),
        _rate(F.col("abstract_present")).alias("abstract_rate"),
        _rate(F.col("n_canonical") >= 3).alias("sections_ge3_rate"),
        _rate(F.col("n_canonical") >= 4).alias("sections_ge4_rate"),
        _rate(F.col("n_canonical") >= 5).alias("sections_ge5_rate"),
        _rate(F.col("has_media")).alias("media_rate"),
        F.sum("n_figures").alias("total_figures"),
        F.sum("n_tables").alias("total_tables"),
        F.sum("n_references").alias("total_references"),
        F.avg("noise").alias("avg_noise_ratio"),
    )
    out = agg.crossJoin(dup_doi)
    # hard-coded gates, thresholds from evaluate_corpus.py:290-301
    return out.select(
        "*",
        (F.col("title_rate") >= 0.99).alias("gate_title"),
        (F.col("doi_or_journal_rate") >= 0.95).alias("gate_doi_journal"),
        (F.col("abstract_rate") >= 1.0).alias("gate_abstract"),
        (F.col("sections_ge3_rate") >= 0.85).alias("gate_sections"),
        (F.col("avg_noise_ratio") <= 0.02).alias("gate_noise"),
        (F.col("dup_doi_docs") <= F.col("total_docs") * 0.01).alias("gate_dup_doi"),
    )


def per_document_metrics(records: DataFrame) -> DataFrame:
    """Per-document quality row — the reference's ``corpus_quality.csv``
    shape (``evaluate_corpus.py:346-371``) for the columns computable
    from a record: identity/meta presence, abstract length+presence,
    section counts, the five canonical flags, media counts, noise.
    (The reference's ``tei_heads_*``/``images_*`` columns require
    parser-side head accounting / a rasterizer — documented out of
    scope.) K6 sink twin: ``sinks.write_per_document_csv``."""
    abstract = F.col("sections").getItem("abstract")
    flags = [
        F.col("sections").getItem(k).isNotNull().alias(k)
        for k in ("introduction", "materials_and_methods", "results",
                  "discussion", "conclusions")
    ]
    all_text = F.concat_ws(" ", F.map_values(F.col("sections")))
    return records.select(
        F.col("conv_id").alias("file"),
        F.coalesce(F.col("title"), F.lit("")).alias("title"),
        F.coalesce(F.col("doi"), F.lit("")).alias("doi"),
        F.coalesce(F.col("journal"), F.lit("")).alias("journal"),
        F.coalesce(F.length(abstract), F.lit(0)).alias("abstract_len"),
        (F.coalesce(F.length(abstract), F.lit(0)) >= 30)
        .alias("abstract_present"),
        F.size(F.map_keys("sections")).alias("sections_count"),
        F.size("other_sections").alias("other_sections_count"),
        *flags,
        F.size("figures").alias("figures_count"),
        F.size("tables").alias("tables_count"),
        F.format_string("%.4f", noise_ratio(all_text)).alias("noise_ratio"),
    )


def head_frequencies(records: DataFrame) -> DataFrame:
    """A6: unmapped (other_sections) head frequency, descending."""
    return (
        records.select(F.explode("other_sections").alias("os"))
        .groupBy(F.col("os.head").alias("head"))
        .count()
        .orderBy(F.desc("count"), F.asc("head"))
    )


# suggestion keyword rules — reference evaluate_corpus.py:314-337
# (deliberately distinct from the section-mapping keyword lists)
SUGGEST_RULES = [
    ("materials_and_methods", ("analysis", "analyses", "examination",
                               "examinations", "assessment", "selection",
                               "extraction", "imaging", "radiographic",
                               "protocol")),
    ("introduction", ("objective", "objectives", "aim", "purpose",
                      "background")),
    ("discussion", ("limitation", "strength")),
    ("conclusions", ("conclusion", "clinical significance")),
]


def mapping_suggestions(records: DataFrame, min_count: int = 1) -> DataFrame:
    """K6 mapping-suggestions report (reference
    ``evaluate_corpus.py:306-337,408-412``): frequent unmapped heads
    re-run through the suggestion keyword rules → suggested canonical
    key, most-frequent first. Input aggregation is head_frequencies
    (already a per-head rollup), so this stage is broadcast-tiny."""
    from paperslicer_spark.functions.sections import sanitize_heading_col

    heads = head_frequencies(records).where(F.col("count") >= min_count)
    n = sanitize_heading_col(F.col("head"))

    def any_kw(kws):
        cond = F.lit(False)
        for k in kws:
            cond = cond | (F.instr(n, k) > 0)
        return cond

    suggestion = F.lit(None).cast("string")
    for key, kws in reversed(SUGGEST_RULES):  # first rule wins
        suggestion = F.when(any_kw(kws), F.lit(key)).otherwise(suggestion)
    return (
        heads.select("head", suggestion.alias("suggestion"), "count")
        .where((n != "") & F.col("suggestion").isNotNull())
        .orderBy(F.desc("count"), F.asc("head"))
    )


def apply_mapping_suggestions(sections: DataFrame,
                              accepted: DataFrame) -> DataFrame:
    """Close the mapping-improvement loop (reference README.md:614 —
    the "61% up from 39%" jump came from folding accepted suggestions
    back into EXACT_MAP and re-bucketing): broadcast-join accepted
    ``(head, suggestion)`` pairs into the long sections table, flipping
    matching unmapped rows to their suggested canonical key.

    Equivalent to extending the broadcast mapping dimension and
    re-classifying — expressed over the already-extracted sections so
    the loop costs one broadcast hash join, not a corpus re-parse.
    ``accepted`` is ``mapping_suggestions(...)`` output (or any subset
    a human approved)."""
    acc = accepted.select(F.col("head").alias("_s_head"),
                          F.col("suggestion").alias("_s_key"))
    out = sections.join(F.broadcast(acc),
                        sections["section_label"] == F.col("_s_head"),
                        "left")
    hit = (~F.col("is_canonical")) & F.col("_s_key").isNotNull()
    return out.select(
        "conv_id",
        F.when(hit, F.col("_s_key")).otherwise(F.col("section_label"))
         .alias("section_label"),
        "clean_text",
        (F.col("is_canonical") | hit).alias("is_canonical"),
    )


def unmapped_rate(sections: DataFrame) -> DataFrame:
    """One-row ``(n_sections, n_unmapped, unmapped_rate)`` rollup over
    a long sections table — the before/after metric of the suggestion
    loop (reference evaluate_corpus's unmapped-rate report)."""
    return sections.agg(
        F.count(F.lit(1)).alias("n_sections"),
        F.sum((~F.col("is_canonical")).cast("bigint")).alias("n_unmapped"),
        F.round(F.sum((~F.col("is_canonical")).cast("double"))
                / F.count(F.lit(1)), 6).alias("unmapped_rate"),
    )


def validation_scores(records: DataFrame) -> DataFrame:
    """A9-shaped weighted per-doc score (0-100): metadata 30% +
    abstract 20% + sections 30% + figures 10% + tables 10%."""
    abstract = F.col("sections").getItem("abstract")
    n_canon = F.size(F.filter(
        F.map_keys(F.col("sections")), lambda k: k.isin(CANONICAL)))
    meta_pts = (
        F.when(F.col("title").isNotNull(), 10.0).otherwise(0.0)
        + F.when(F.col("doi").isNotNull(), 10.0).otherwise(0.0)
        + F.when(F.col("journal").isNotNull(), 10.0).otherwise(0.0)
    )
    abstract_pts = F.when(
        F.coalesce(F.length(abstract), F.lit(0)) >= 30, 20.0).otherwise(0.0)
    section_pts = F.least(n_canon.cast("double") * 6.0, F.lit(30.0))
    figure_pts = F.least(F.size("figures").cast("double") * 5.0, F.lit(10.0))
    table_pts = F.least(F.size("tables").cast("double") * 5.0, F.lit(10.0))
    return records.select(
        "conv_id",
        F.round(meta_pts + abstract_pts + section_pts + figure_pts + table_pts, 2)
        .alias("score"),
    )


def partition_lineage(spans: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics table (north_rule): what each task
    of the spans pass contributed, grouped by that pass's Spark
    partitions (``spark_partition_id``), not by resume buckets."""
    return (
        spans.withColumn("part_id", F.spark_partition_id())
        .groupBy("part_id")
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.countDistinct("conv_id", "turn_idx").alias("n_turns"),
            F.count("*").alias("n_units"),
            F.sum(F.length("clean_text")).alias("n_clean_chars"),
        )
    )


def exact_percentiles(df: DataFrame, group_col: str, value_expr,
                      quantiles: dict[str, float],
                      extra_aggs: list | None = None) -> DataFrame:
    """Exact linearly-interpolated percentiles (R-7, same rule as
    Spark ``percentile`` / DuckDB ``quantile_cont``) computed WITHOUT
    buffering each group's values in aggregator memory.

    ``F.percentile`` is exact but its ObjectHashAggregate buffer holds
    every value of a group on one executor — a 100 TB hazard for
    skewed groups (round-3 VERDICT).  This form ranks values with a
    sort-based window (spillable ExternalSorter) and picks only the
    two bracketing rows per quantile:

      pos  = q * (n - 1)            # 0-based position in sorted order
      lo   = floor(pos); frac = pos - lo
      pq   = v[lo] * (1 - frac) + v[lo+1] * frac

    The symmetric weighted form is NOT algebraically interchangeable
    with ``v_lo + (v_hi - v_lo) * frac`` at the bit level: DuckDB's
    ``quantile_cont`` computes ``lo * (1 - d) + hi * d`` and the two
    associations differ by 1 ULP at epoch-µs magnitudes, which lands
    on different 6-dp roundings (the round-5 x85 driver red). Keep
    this exact operation order — it is what makes round(interp, 6)
    bit-equal to DuckDB ``round(quantile_cont(...), 6)`` at every
    magnitude.

    One shuffle on ``group_col`` (reused by the window AND the final
    aggregate — Exchange reuse, no second shuffle), one broadcast join
    for the tiny per-group counts.  Output: one row per group with
    ``p{q}`` columns rounded to 6 dp, plus any ``extra_aggs`` (applied
    in the same final aggregate).

    NULL values are dropped before ranking, matching ``F.percentile``
    and DuckDB ``quantile_cont`` ignore-NULL semantics (without the
    filter they sort first and occupy the lowest ranks, skewing every
    quantile — round-4 ADVICE). Consequence: ``extra_aggs`` run over
    the non-NULL-value rows only, and a group whose values are ALL
    NULL is absent from the output (``F.percentile`` would keep it
    with NULL percentiles — callers needing empty groups should join
    the result back to the distinct keys).
    """
    from pyspark.sql import Window

    ranked = df.select(
        F.col(group_col), value_expr.cast("double").alias("_v")
    ).where(F.col("_v").isNotNull()).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy(group_col).orderBy("_v")) - 1,
    )
    counts = ranked.groupBy(group_col).agg(F.count("*").alias("_n"))
    j = ranked.join(F.broadcast(counts), group_col)

    aggs = []
    for name, qv in quantiles.items():
        pos = F.lit(qv) * (F.col("_n") - 1)
        lo = F.floor(pos)
        frac = pos - lo
        v_lo = F.max(F.when(F.col("_rn") == lo, F.col("_v")))
        v_hi = F.max(F.when(F.col("_rn") == lo + 1, F.col("_v")))
        fr = F.max(frac)
        interp = (v_lo * (F.lit(1.0) - fr)
                  + F.coalesce(v_hi, v_lo) * fr)
        aggs.append(F.round(interp, 6).alias(name))
    aggs.extend(extra_aggs or [])
    return j.groupBy(group_col).agg(*aggs)


def ranked_auc(df: DataFrame, group_col: str, score_col: str,
               label_col: str) -> DataFrame:
    """Tie-aware ROC AUC of a score against a binary label, per group.

    The quality-classifier calibration number every model-based data
    selection pipeline reports (does the fasttext/hashed-classifier
    score actually rank kept docs above dropped ones?).  Uses the
    rank-sum (Mann-Whitney U) identity with AVERAGE ranks for ties:

        auc = (sum_{positives} avgrank - n_pos*(n_pos+1)/2)
              / (n_pos * n_neg)

    All intermediate arithmetic is INTEGER (2*avgrank = 2*rank_min +
    tie_count - 1 is always integral), so ``auc_num2`` is bit-exact
    across engines; the single final division is one IEEE op.  One
    shuffle on ``group_col``: the rank window, the tie-count window
    and the final aggregate all reuse the same hash partitioning, and
    the window sort is the spillable ExternalSorter (no per-group
    buffering — the ``exact_percentiles`` argument).  Rows with NULL
    score or label are dropped (ignore-NULL, round-4 ADVICE).  Groups
    with only one class get NULL ``auc``.

    Output: ``(group, n_pos, n_neg, auc_num2, auc)`` where ``auc_num2``
    = 2 * U (bigint) and ``auc`` is rounded to 9 dp.
    """
    from pyspark.sql import Window

    lab = F.col("_lab")
    base = df.select(
        F.col(group_col),
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("bigint").alias("_lab"),
    ).where(F.col("_s").isNotNull() & lab.isNotNull())
    g = Window.partitionBy(group_col)
    ranked = base.withColumns({
        # 2*avgrank: min rank of the tie run + (run size - 1) spread
        "_r2": 2 * F.rank().over(g.orderBy("_s"))
        + F.count("*").over(g.orderBy("_s")
                            .rangeBetween(0, 0)) - 1,
    })
    agg = ranked.groupBy(group_col).agg(
        F.sum(lab).alias("n_pos"),
        F.sum(1 - lab).alias("n_neg"),
        (F.sum(F.when(lab == 1, F.col("_r2")))
         - F.sum(lab) * (F.sum(lab) + 1)).alias("auc_num2"),
    )
    denom = 2 * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        group_col, "n_pos", "n_neg", "auc_num2",
        F.when(denom > 0,
               F.round(F.col("auc_num2") / denom, 9)).alias("auc"))


def score_deciles(df: DataFrame, group_col: str, score_col: str,
                  id_col: str, n_buckets: int = 10) -> DataFrame:
    """Equal-count score-bucket calibration table per group.

    The "decile table" a quality-score rollout reviews before picking
    a keep threshold: bucket k holds the k-th ntile of rows by
    (score, id) — the id tiebreak makes the bucketing deterministic
    (bare ntile over a non-unique order is engine/row-order dependent).

    One exchange on ``group_col`` (ntile window + final aggregate
    share it); the output is groups×buckets-sized.  All-integer when
    the score is integral (sums stay bigint).

    Output: ``(group, bucket, n, min_score, max_score, sum_score)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    return (df.withColumn("bucket",
                          F.ntile(n_buckets).over(w).cast("bigint"))
            .groupBy(group_col, "bucket")
            .agg(F.count("*").alias("n"),
                 F.min(score_col).alias("min_score"),
                 F.max(score_col).alias("max_score"),
                 F.sum(score_col).alias("sum_score")))


def robust_outliers(df: DataFrame, group_col: str, value_expr,
                    k: float = 3.0) -> DataFrame:
    """Median/MAD robust outlier profile per group.

    The length/score-distribution guard a curation pipeline runs
    before trusting mean±stddev gates: corpus stats are heavy-tailed,
    so the robust center is the median and the robust spread is the
    MAD (median absolute deviation), both immune to the outliers they
    are hunting.  A row is flagged when ``|v - med| > k * mad``.

    Built on :func:`exact_percentiles` (spillable window rank — never
    a whole-group aggregator buffer), so it inherits the 100 TB shape:
    two ranked passes over the corpus (values, then deviations), each
    ONE exchange on ``group_col``, plus a final broadcast of the
    groups-sized (med, mad) relation back to the scan for the flag
    count.  NULL values are dropped (ignore-NULL, round-4 ADVICE).

    Determinism contract: ``med``/``mad`` are round(6) doubles from
    exact_percentiles' R-7 rule (DuckDB ``quantile_cont`` pairing);
    deviations are computed FROM the rounded median in both engines,
    and the flag compares against ``k * mad`` — one IEEE multiply of
    exact inputs, bit-identical across engines.

    The intermediate ``med``/``mad`` relations are groups-sized (they
    ARE this operator's output keys) and each feeds two downstream
    consumers, so they are materialized driver-side (the kmeans
    centroid precedent) — without that, Catalyst re-runs the median's
    whole ranked-window subplan inside the deviation, MAD and final
    branches (measured: 14 parquet scans in the AQE-final plan, only
    3 reused; materialized it is the minimal 3 corpus passes).

    Output: ``(group, med, mad, n, n_outliers)``.
    """
    spark = df.sparkSession
    vals = df.select(F.col(group_col),
                     value_expr.cast("double").alias("_v"))
    med = exact_percentiles(vals, group_col, F.col("_v"),
                            {"med": 0.5})
    med = spark.createDataFrame(med.collect(), schema=med.schema)
    dev = vals.join(F.broadcast(med), group_col).select(
        group_col, "_v", (F.abs(F.col("_v") - F.col("med"))).alias("_d"))
    mad = exact_percentiles(dev, group_col, F.col("_d"),
                            {"mad": 0.5})
    mad = spark.createDataFrame(mad.collect(), schema=mad.schema)
    stats = med.join(mad, group_col)
    return (vals.where(F.col("_v").isNotNull())
            .join(F.broadcast(stats), group_col)
            .groupBy(group_col)
            .agg(F.first("med").alias("med"),
                 F.first("mad").alias("mad"),
                 F.count("*").alias("n"),
                 F.sum((F.abs(F.col("_v") - F.col("med"))
                        > F.lit(k) * F.col("mad")).cast("bigint"))
                 .alias("n_outliers")))


def cdf_normalize(df: DataFrame, group_col: str, score_col: str,
                  id_col: str) -> DataFrame:
    """Per-group empirical-CDF score normalization (percent-rank) —
    the cross-source calibration step before mixing quality scores
    computed on different sources: raw scores are incomparable across
    sources, their within-source percentiles are.

    ``pct = (rank - 1) / (n - 1)`` over the (score, id) total order
    (the ANSI ``percent_rank`` both engines implement identically;
    the id tiebreak makes ranks deterministic under duplicate
    scores; single-row groups get 0 by convention).  One exchange on
    ``group_col``, spillable window sort, output corpus-sized.

    Output: ``(id, group, score, pct)`` with pct rounded to 9dp.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    return df.select(
        F.col(id_col), F.col(group_col), F.col(score_col),
        F.round(F.percent_rank().over(w), 9).alias("pct"))


def key_skew_profile(df: DataFrame, key_expr, top_k: int = 20
                     ) -> DataFrame:
    """Join/aggregation-key skew diagnostic — the profiling query run
    BEFORE shipping a shuffle-on-this-key plan to a 1000-executor
    cluster: the top-``top_k`` heaviest keys with their share of the
    corpus and their skew factor (key count ÷ mean key count; the
    factor by which the hottest task outweighs the average one).

    Output: ``(rank, key, c, frac, skew)`` — frac round(9), skew
    round(6), both single IEEE divisions of exact bigints.

    Scale: the per-key count is map-side-combined (hot keys collapse
    to one row per partition before the exchange); the global (rows,
    keys) relation is ONE row aggregated from the counts exchange —
    Catalyst reuses that exchange for the top-k branch — and is
    broadcast to the k survivors; the top-k cut itself is
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    from pyspark.sql import Window

    counts = (df.select(key_expr.cast("string").alias("key"))
              .groupBy("key").agg(F.count("*").alias("c")))
    stats = counts.agg(F.sum("c").alias("_rows"),
                       F.count("*").alias("_keys"))
    top = counts.orderBy(F.col("c").desc(), "key").limit(top_k)
    w = Window.orderBy(F.col("c").desc(), "key")
    return (top.crossJoin(F.broadcast(stats))
            .select(F.row_number().over(w).cast("bigint").alias("rank"),
                    "key", "c",
                    F.round(F.col("c") / F.col("_rows"), 9).alias("frac"),
                    F.round(F.col("c") * F.col("_keys") / F.col("_rows"),
                            6).alias("skew")))


def basket_pairs(df: DataFrame, key_col: str, item_col: str,
                 min_support: int = 1) -> DataFrame:
    """Market-basket item co-occurrence with support and lift — the
    association-mining rollup behind "users who did X also did Y"
    and feature-co-occurrence audits.  A basket is the DISTINCT item
    set per key (session, user, document).

    ``lift = P(ab) / (P(a)·P(b)) = n_ab·n_baskets / (n_a·n_b)`` —
    numerator and denominator stay exact bigints; the one division
    is a single IEEE op, round(6).  Pairs are unordered, emitted with
    ``item_a < item_b``.

    Contract: the ITEM DOMAIN must be small (event types, categories
    — not open vocabularies): per-basket item sets are collected into
    a sorted array and pairs fan out as C(m,2), so a basket's cost is
    quadratic in its DISTINCT item count (bounded by the domain).
    For open domains use cooccurrence_counts' positional windows.

    Scale: one distinct (dedup shuffle on (key, item)), the basket
    collect + pair fan-out reuse that exchange's key partitioning;
    item counts and the 1-row basket count are map-side-combined
    aggregates of basket-sized relations; final lift join broadcasts
    the item-domain-sized counts.
    """
    baskets = df.select(F.col(key_col).alias("k"),
                        F.col(item_col).alias("item")).distinct()
    n_baskets = baskets.groupBy("k").agg(F.lit(1).alias("_one")) \
        .agg(F.count("*").alias("n_baskets"))
    item_counts = baskets.groupBy("item").agg(
        F.count("*").alias("n_item"))
    sets = baskets.groupBy("k").agg(
        F.sort_array(F.collect_set("item")).alias("items"))
    m = F.size("items")
    combos = F.flatten(F.transform(
        F.sequence(F.lit(1), m - 1),
        lambda i: F.transform(
            F.slice(F.col("items"), i + 1, m - i),
            lambda b: F.struct(
                F.element_at(F.col("items"), i).alias("a"),
                b.alias("b")))))
    pairs = (sets.where(m >= 2)
             .select(F.explode(combos).alias("p"))
             .groupBy(F.col("p.a").alias("item_a"),
                      F.col("p.b").alias("item_b"))
             .agg(F.count("*").alias("n_ab"))
             .where(F.col("n_ab") >= min_support))
    ia = item_counts.select(F.col("item").alias("item_a"),
                            F.col("n_item").alias("n_a"))
    ib = item_counts.select(F.col("item").alias("item_b"),
                            F.col("n_item").alias("n_b"))
    return (pairs.join(F.broadcast(ia), "item_a")
            .join(F.broadcast(ib), "item_b")
            .crossJoin(F.broadcast(n_baskets))
            .select("item_a", "item_b", "n_ab", "n_a", "n_b",
                    "n_baskets",
                    F.round(F.col("n_ab") * F.col("n_baskets")
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("lift")))


def cohen_kappa(df: DataFrame, item_col: str, rater_col: str,
                label_col: str) -> DataFrame:
    """Pairwise Cohen's kappa over an annotation table — the label-
    quality audit run before trusting human (or LLM-judge) labels in
    a training mix: chance-corrected agreement per rater pair,
    ``kappa = (po - pe) / (1 - pe)`` with ``pe = Σ_l pA(l)·pB(l)``
    computed, as the statistic requires, over each pair's CO-RATED
    items only.

    Input: one row per (item, rater) with the assigned label (extra
    ratings of the same item by the same rater must be resolved
    upstream; this operator assumes the (item, rater) key is unique).
    NULL labels are dropped at entry — a missing label is a missing
    rating, not a ratable value (it could never agree and would
    silently inflate ``n_items``).

    Output, one row per unordered rater pair (``rater_a < rater_b``):
    ``(rater_a, rater_b, n_items, po, pe, kappa)`` — po/pe/kappa
    round(6); ``kappa`` is NULL when ``pe = 1`` and ``po < 1``
    (undefined) and 1.0 when both raters agree perfectly on a
    one-label table.

    Plan: ONE self-equi-join on the item key (co-partitioned; worst
    skew = an item rated by every rater, fan-out raters²) down to the
    contingency relation ``(rater_a, rater_b, label_a, label_b,
    count)`` — raters² × labels² rows, model-sized — on which the
    marginals, po and pe are rollups that never touch the corpus
    again.  Note pe's marginal product is summed over the JOINED
    per-side label marginals, not over observed diagonal cells: both
    raters using label ``l`` contributes to pe even when they never
    coincided on an item (no (l, l) cell exists).
    """
    rated = df.where(F.col(label_col).isNotNull())
    a = rated.select(F.col(item_col).alias("_i"),
                     F.col(rater_col).alias("rater_a"),
                     F.col(label_col).alias("_la"))
    b = rated.select(F.col(item_col).alias("_i"),
                     F.col(rater_col).alias("rater_b"),
                     F.col(label_col).alias("_lb"))
    cont = (a.join(b, "_i")
            .where(F.col("rater_a") < F.col("rater_b"))
            .groupBy("rater_a", "rater_b", "_la", "_lb")
            .agg(F.count("*").cast("bigint").alias("_c")))
    keys = ["rater_a", "rater_b"]
    totals = cont.groupBy(keys).agg(
        F.sum("_c").alias("n_items"),
        F.sum(F.when(F.col("_la") == F.col("_lb"), F.col("_c"))
              .otherwise(F.lit(0))).alias("_agree"))
    ma = cont.groupBy(*keys, F.col("_la").alias("_l")).agg(
        F.sum("_c").alias("_ma"))
    mb = cont.groupBy(*keys, F.col("_lb").alias("_l")).agg(
        F.sum("_c").alias("_mb"))
    # inner join: a label only one side used has product 0 anyway
    prod = (ma.join(mb, keys + ["_l"])
            .groupBy(keys)
            .agg(F.sum(F.col("_ma") * F.col("_mb")).alias("_sab")))
    agg = (totals.join(prod, keys, "left")
           .select(*keys, "n_items",
                   (F.col("_agree") / F.col("n_items")).alias("_po"),
                   (F.coalesce(F.col("_sab"), F.lit(0))
                    / (F.col("n_items") * F.col("n_items")))
                   .alias("_pe")))
    po, pe = F.col("_po"), F.col("_pe")
    kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)) \
             .otherwise(F.when(po == 1.0, F.lit(1.0)))
    return agg.select(
        "rater_a", "rater_b", "n_items",
        F.round(po, 6).alias("po"), F.round(pe, 6).alias("pe"),
        F.round(kappa, 6).alias("kappa"))


def rank_fusion(df: DataFrame, id_col: str, score_cols: list[str],
                k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al.) of several
    quality signals into one keep-ordering — the standard way to
    blend incommensurable scores (rule-based quality, classifier
    probability, PageRank prior) without learning weights:
    ``rrf = Σ_s 1 / (k + rank_s)`` over each signal's descending
    rank.

    Ranks are ``row_number`` over (score desc, id) — the id tiebreak
    makes every rank, and therefore the fused score, deterministic.
    Each 1/(k+rank) term is one IEEE division of exact integers and
    the sum has a fixed left-to-right order (signal order), so both
    engines agree bit-for-bit; round(9).

    Scale: the global rank is DECOMPOSED per signal (round-5 VERDICT
    flagged the previous ``Window.orderBy`` form — a single-partition
    sort of the whole relation per signal):

        rank = (# rows with score strictly greater)            [base]
             + row_number over (PARTITION BY score ORDER BY id)

    identical to ``row_number() OVER (ORDER BY score DESC, id)`` for
    every row, including NULL scores (DESC puts NULLs last; the
    cumulative-preceding sum over the distinct-score relation gives
    the NULL group every non-NULL count as its base). The corpus
    relation is hash-exchanged on the score (parallel window, reused
    by the null-safe base join); the remaining single-partition sort
    is the cumulative window over the |distinct scores| COUNTS
    relation — (score, count) pairs only. For bounded-cardinality
    signals (ranks, buckets, integer priors — the registered x101
    shape) that relation is tiny; for a continuous corpus-cardinality
    score it is still |distinct| narrow rows through one partition —
    ~two columns instead of the previous full-width corpus sort, but
    not parallel: quantize/bucket continuous signals (or pre-top-N
    the candidates) before fusing at corpus scale. Degenerate
    all-one-score signals hot-spot one window partition — the same
    rows that previously serialized one global sort.
    """
    from functools import reduce

    from pyspark.sql import Window

    out = df
    terms = []
    for s in score_cols:
        counts = df.groupBy(s).agg(F.count("*").alias("_c"))
        wcum = (Window.orderBy(F.col(s).desc())
                .rowsBetween(Window.unboundedPreceding, -1))
        base = counts.select(
            F.col(s).alias("_s"),
            F.coalesce(F.sum("_c").over(wcum),
                       F.lit(0).cast("bigint")).alias("_base"))
        rank_col = f"_r_{s}"
        win = Window.partitionBy(s).orderBy(F.col(id_col))
        out = (out.join(base, F.col(s).eqNullSafe(F.col("_s")), "left")
               .drop("_s")
               .withColumn(rank_col,
                           F.col("_base") + F.row_number().over(win))
               .drop("_base"))
        terms.append(F.lit(1.0) / (F.lit(k) + F.col(rank_col)))
    fused = reduce(lambda a, b: a + b, terms)
    return (out.select(F.col(id_col), *score_cols,
                       F.round(fused, 9).alias("rrf"))
            .orderBy(F.col("rrf").desc(), F.col(id_col)))
