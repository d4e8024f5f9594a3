"""Distributed prefix scan + exact ROC-AUC.

``bucketed_prefix_sum`` computes GLOBAL running sums in a total order
without the classic Spark trap — ``Window.orderBy(col)`` with no
partitionBy collapses the whole dataset into ONE task (Spark itself
WARNs). The scalable form is the textbook two-level scan: (1) assign
each row a range bucket from approx-quantile boundaries (one O(B)
driver call, balanced buckets by construction), (2) per-bucket window
prefix sums — ONE hash shuffle on the bucket key, (3) per-bucket
totals (map-side combinable, B rows) collected and folded into
exclusive offsets broadcast back as a literal map. The prefix VALUES
are bucket-boundary-invariant, so the result is independent of the
quantile sketch's exact cut points — only balance depends on it.

``partitioned_prefix_sum`` is the per-group form (running sums within
each stratum/shard/source) with the offset fold kept DISTRIBUTED — the
totals table's exclusive scan is a window over <= B rows per group —
so it serves both few huge groups (a dominant web stratum) and many
small ones (10^5 shards) with no driver collect at all. It is the
skew-safe replacement for ``Window.partitionBy(group).orderBy(id)``
wherever a group can dominate the corpus (curation.pack_sequences,
sharding.assign_shards).

``rank_auc`` builds exact tie-corrected ROC-AUC (Mann-Whitney U) on
top: group by score (one shuffle, map-side combined), prefix-scan the
negative counts in score order, then
AUC = [sum n1*(cum_n0 - n0) + 0.5 * sum n1*n0] / (N1*N0) — the
pairs-won + half-ties formula. Nothing is ever single-partition; the
only driver data is B quantiles + B bucket totals. This is the
model-evaluation companion to operators/classifier.py: DCLM/FineWeb
pipelines gate their trained quality filters on held-out AUC, and at
10^12 docs the evaluation itself has to be a distributed job.

No counterpart in the reference (aliengiraffe/deidentify is a PII
scrubber); §2.G training-data-pipeline surface.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from deidentify_spark.runtime import tracked_persist

__all__ = [
    "bucketed_prefix_sum",
    "partitioned_prefix_sum",
    "rank_auc",
    "auc_oracle_sql",
    "score_calibration",
    "calibration_oracle_sql",
    "exact_percentiles",
    "percentiles_from_counts",
    "mad_outliers",
]

SCAN_BUCKETS = 64  # range buckets of the two-level scans
AUC_DECIMALS = 6  # auc_oracle_sql rounds the AUC to these


def _quantile_bucket(df: DataFrame, order_col: str, n_buckets: int) -> Column:
    """Range-bucket expression from approx-quantile boundaries of
    ``order_col`` (one O(B) driver call; balanced buckets by
    construction). Bucket VALUES don't affect any prefix sum — only
    balance depends on the sketch."""
    bounds = sorted(
        set(
            df.approxQuantile(
                order_col,
                [i / n_buckets for i in range(1, n_buckets)],
                0.001,
            )
        )
    )
    if not bounds:  # empty input (no quantiles): single bucket
        return F.lit(0)
    return reduce(
        lambda a, b: a + b,
        [(F.col(order_col) > F.lit(b)).cast("int") for b in bounds],
    )


def bucketed_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    n_buckets: int = SCAN_BUCKETS,
    out_prefix: str = "cum_",
) -> DataFrame:
    """All input columns plus ``{out_prefix}{v}``: the inclusive global
    running sum of each value column in ascending ``order_col`` order.

    ``order_col`` must be unique AND non-null per row (with duplicate
    keys a running sum is not well-defined row-wise — aggregate
    duplicates first, as rank_auc does; approxQuantile ignores nulls so
    a null key would land in bucket 0 unscanned). Cost: one O(B)
    approxQuantile driver call, one hash shuffle on the bucket key, one
    B-row collect. No single-partition stage at any size; B bounds the
    per-task sort to ~n/B rows.

    The input is PERSISTED here (unless the caller already did): the
    scan needs three passes (quantiles, totals, output) and without the
    cache each pass re-executes the input's full lineage. Measured on
    quality_auc_documents at sf0.1 (NB train+score upstream), same
    session A/B: 6.9-7.0s persisted vs 10.5-11.8s recomputed. Same
    explicit-materialization posture as dsir_select's slim projection.
    """
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df = tracked_persist(df)  # released via runtime.release_tracked()
    g = df.withColumn("_psum_bkt", _quantile_bucket(df, order_col, n_buckets))
    w = (
        Window.partitionBy("_psum_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for v in value_cols:
        g = g.withColumn(out_prefix + v, F.sum(v).over(w))
    totals = (
        g.groupBy("_psum_bkt")
        .agg(*[F.sum(v).alias(v) for v in value_cols])
        .collect()
    )
    # exclusive running offsets per bucket, folded on the driver (O(B))
    offsets: dict[int, dict[str, float]] = {}
    run = {v: 0 for v in value_cols}
    for row in sorted(totals, key=lambda r: r["_psum_bkt"]):
        offsets[row["_psum_bkt"]] = dict(run)
        for v in value_cols:
            run[v] += row[v] or 0
    for v in value_cols:
        if offsets:
            off = F.create_map(
                *[
                    x
                    for b, o in offsets.items()
                    for x in (F.lit(b), F.lit(o[v]))
                ]
            )[F.col("_psum_bkt")]
        else:
            off = F.lit(0)
        g = g.withColumn(out_prefix + v, F.col(out_prefix + v) + off)
    return g.drop("_psum_bkt")


def partitioned_prefix_sum(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    value_cols: list[str],
    tie_cols: list[str] | None = None,
    out_prefix: str = "cum_",
    persist_input: bool = True,
) -> DataFrame:
    """Per-group running sums — all input columns plus
    ``{out_prefix}{v}``: the inclusive running sum of each value column
    in ascending ``(order_col, *tie_cols)`` order WITHIN each
    ``partition_cols`` group — without the one-task-per-group trap of
    ``Window.partitionBy(group).orderBy(order)``: a group holding 90%
    of a 10^12-row corpus (the normal web-source skew) would sort its
    entire volume in ONE task under the plain window.

    Two-level scan, same idea as ``bucketed_prefix_sum`` but with the
    offset fold DISTRIBUTED instead of driver-side (so large group
    counts — e.g. shards — need no O(groups x B) collect):
    1. range buckets from GLOBAL approx-quantiles of ``order_col``
       (group-agnostic: a dominant group's rows spread over all B
       buckets, bounding every window task to ~n_group/B rows);
    2. per-(group, bucket) window prefix sums — one hash shuffle;
    3. per-(group, bucket) totals (map-side combined), exclusive-folded
       into offsets by a window partitioned BY GROUP over its <= B
       total rows (bounded per task by construction), joined back on
       (group, bucket) — AQE broadcasts the totals table when small.

    ``(order_col, *tie_cols)`` must be unique non-null within a group;
    ``order_col`` numeric (approxQuantile) and group keys non-null
    (equi-join keys). The input is persisted by default (registered
    with runtime.release_tracked) — the scan reads it for quantiles,
    the window branch, and the totals branch. Pass
    ``persist_input=False`` when the input is a cheap scan over wide
    rows (e.g. assign_shards over the full corpus): the quantile and
    totals passes column-prune to the key columns, so two pruned
    re-reads beat caching every text byte.
    """
    ties = list(tie_cols or [])
    if persist_input and not (
        df.storageLevel.useMemory or df.storageLevel.useDisk
    ):
        df = tracked_persist(df)
    base = df.withColumn(
        "_psum_bkt", _quantile_bucket(df, order_col, SCAN_BUCKETS)
    )
    w = (
        Window.partitionBy(*partition_cols, "_psum_bkt")
        .orderBy(order_col, *ties)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = base
    for v in value_cols:
        g = g.withColumn(out_prefix + v, F.sum(v).over(w))
    totals = base.groupBy(*partition_cols, "_psum_bkt").agg(
        *[F.sum(v).alias(f"_t_{v}") for v in value_cols]
    )
    ow = (
        Window.partitionBy(*partition_cols)
        .orderBy("_psum_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *partition_cols,
        "_psum_bkt",
        *[
            F.coalesce(F.sum(f"_t_{v}").over(ow), F.lit(0)).alias(f"_off_{v}")
            for v in value_cols
        ],
    )
    g = g.join(offsets, [*partition_cols, "_psum_bkt"], "left")
    for v in value_cols:
        g = g.withColumn(
            out_prefix + v,
            F.col(out_prefix + v) + F.coalesce(F.col(f"_off_{v}"), F.lit(0)),
        )
    return g.drop("_psum_bkt", *[f"_off_{v}" for v in value_cols])


def rank_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_buckets: int = SCAN_BUCKETS,
) -> DataFrame:
    """One-row DataFrame ``(auc)``: exact tie-corrected ROC-AUC of
    ``score_col`` against boolean ``label_col`` (NULL if either class
    is empty — an AUC over one class is undefined, not 0 or 1).

    Ties in the score contribute 0.5 per (pos, neg) pair, matching
    sklearn.metrics.roc_auc_score exactly.
    """
    g = df.groupBy(score_col).agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("_n0"),
    )
    c = bucketed_prefix_sum(g, score_col, ["_n0"], n_buckets)
    return c.agg(
        F.when(
            (F.sum("_n1") == 0) | (F.sum("_n0") == 0), F.lit(None)
        )
        .otherwise(
            (
                F.sum(F.col("_n1") * (F.col("cum__n0") - F.col("_n0")))
                + 0.5 * F.sum(F.col("_n1") * F.col("_n0"))
            )
            / (F.sum("_n1") * F.sum("_n0"))
        )
        .alias("auc")
    )


def auc_oracle_sql(
    scored_sql: str,
    label_expr: str,
    score_expr: str,
) -> str:
    """DuckDB twin of rank_auc over ``scored_sql`` (a full SELECT whose
    output provides ``label_expr`` and ``score_expr``): single-node SQL
    uses the plain global window the distributed version exists to
    avoid — same values, textbook formulation."""
    return f"""
        WITH scored AS ({scored_sql}),
        g AS (
            SELECT {score_expr} AS s,
                   SUM(CASE WHEN {label_expr} THEN 1 ELSE 0 END) AS n1,
                   SUM(CASE WHEN {label_expr} THEN 0 ELSE 1 END) AS n0
            FROM scored GROUP BY {score_expr}
        ),
        c AS (
            SELECT *, SUM(n0) OVER (ORDER BY s) AS cum_n0 FROM g
        )
        SELECT CASE WHEN SUM(n1) = 0 OR SUM(n0) = 0 THEN NULL
               ELSE ROUND((SUM(n1 * (cum_n0 - n0)) + 0.5 * SUM(n1 * n0))
                          / (SUM(n1) * SUM(n0)), {AUC_DECIMALS})
               END AS auc
        FROM c
    """


def score_calibration(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for a classifier score — the calibration
    companion to ``rank_auc`` (AUC says the RANKING is good; this says
    whether the score VALUES mean what a gate threshold assumes): the
    score range [min, max] splits into ``n_bins`` fixed-width bins and
    each returns (bin, n_docs, n_pos, pos_rate, lo_score, hi_score).
    A monotone pos_rate staircase = well-ordered scores; flat spots show
    where a keep/drop threshold would be arbitrary.

    Every output is ORDER-INDEPENDENT on purpose — counts, integer
    sums, and min/max — so the result is bit-stable across partitionings
    and engines (a mean of doubles would depend on distributed summation
    order; pos_rate comes from exact integers instead).

    Scale shape: one scalar min/max aggregate broadcast back (the same
    broadcast-scalar idiom as mixture_weights), then ONE map-side bin
    expression + groupBy(bin) — O(n_bins) output rows, partial-agg
    combined, no window, no skew surface (bins are value-ranges, not
    keys an adversary can concentrate... a constant-score corpus lands
    in bin 0 by the degenerate-range guard and is still one combined
    aggregate row)."""
    ext = df.agg(
        F.min(score_col).alias("_lo"), F.max(score_col).alias("_hi")
    )
    b = df.crossJoin(F.broadcast(ext))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    bin_ = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(score_col) - F.col("_lo")) / width).cast("int"),
            F.lit(n_bins - 1),
        )
    )
    pos = F.when(F.col(label_col), 1).otherwise(0)
    return (
        b.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(pos).alias("n_pos"),
            F.round(
                F.sum(pos).cast("double") / F.count(F.lit(1)), 6
            ).alias("pos_rate"),
            F.round(F.min(score_col), 4).alias("lo_score"),
            F.round(F.max(score_col), 4).alias("hi_score"),
        )
    )


def calibration_oracle_sql(
    scored_sql: str,
    label_expr: str,
    score_expr: str,
    n_bins: int = 10,
) -> str:
    """DuckDB twin of ``score_calibration`` over ``scored_sql`` (a full
    SELECT producing the label/score columns) — identical fixed-width
    bin arithmetic on the same rounded inputs, integer-exact counts."""
    return f"""
        WITH scored AS (
            SELECT ({label_expr}) AS _y, ({score_expr}) AS _s
            FROM ({scored_sql})
        ), ext AS (
            SELECT MIN(_s) AS lo, MAX(_s) AS hi FROM scored
        )
        SELECT CASE WHEN hi = lo THEN 0
                    ELSE LEAST(CAST(FLOOR((_s - lo) /
                                    ((hi - lo) / {n_bins})) AS INT),
                               {n_bins - 1}) END AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN _y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               ROUND(SUM(CASE WHEN _y THEN 1 ELSE 0 END)::DOUBLE
                     / COUNT(*), 6) AS pos_rate,
               ROUND(MIN(_s), 4) AS lo_score,
               ROUND(MAX(_s), 4) AS hi_score
        FROM scored, ext
        GROUP BY 1
        ORDER BY bin
    """


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    group_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT discrete percentiles — per group, the smallest value whose
    cumulative count reaches ceil(q*N) — without a global sort and
    without one-task-per-group windows: exact order statistics over
    10^12 rows are normally the textbook case for "use approxQuantile
    instead", but corpus SLAs ("median doc length", "p95 tokens per
    page" in a datasheet) want the exact number.

    Composition of this module's own primitives:
    1. ``groupBy(group, value).count()`` — the only pass over the data;
       hot values are absorbed by map-side partial aggregation;
    2. ``partitioned_prefix_sum`` over the (group, value, count) table
       in value order — the two-level bucketed scan, so a dominant
       group never sorts in one task and no driver collect scales with
       the group count;
    3. one final groupBy(group) with a min-when per requested quantile.
    Every output is an exact integer/order statistic (no float sums),
    so results are bit-stable across partitionings and engines.
    """
    groups = list(group_cols or [])
    tmp_group = not groups
    if tmp_group:
        df = df.withColumn("_g", F.lit(0))
        groups = ["_g"]
    counts = (
        # NULL values carry no defined rank (and order differently
        # across engines): they are ignored by the statistics (ADVICE
        # r6 contract, shared with mad_outliers)
        df.where(F.col(value_col).isNotNull())
        .groupBy(*groups, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    out = percentiles_from_counts(counts, value_col, "_c", qs, groups)
    return out.drop("_g") if tmp_group else out


def percentiles_from_counts(
    counts: DataFrame,
    value_col: str,
    count_col: str,
    qs: tuple[float, ...],
    groups: list[str],
) -> DataFrame:
    """``exact_percentiles`` steps 2-3 over an ALREADY-AGGREGATED
    (group, value, count) table — the reuse point when a caller derives
    a second statistic's value counts from the first's (mad_outliers:
    deviation counts are a pure function of the value-count table, so
    the corpus is never re-scanned for pass 2).

    Shape (round-7 rewrite): a quantile only needs the value at ONE
    rank per group, so instead of materializing per-row global running
    sums over the whole counts table (window + per-bucket offset fold +
    totals join — three full-counts-table exchanges), locate the rank's
    TARGET BUCKET on the tiny per-(group, bucket) total table and
    window only the target buckets' rows:
    1. range-bucket values via global approx-quantiles (one O(B) driver
       call — balance only, never the answer);
    2. bucket totals (map-side combined, <= B rows/group) -> exclusive
       offsets + group N by a window over those <= B rows;
    3. each requested q's rank t = ceil(q*N) falls in exactly one
       bucket (off < t <= off + bucket_total); emit (group, bucket, q,
       residual rank r = t - off) — an O(groups x qs) table,
       broadcast-joined back so ONLY target-bucket rows (~1/B of the
       counts table) flow through the within-bucket running sum;
    4. answer per (group, q): min value with local cum >= r. Identical
       to "min value whose global cum reaches ceil(q*N)" because the
       bucketing is order-preserving in ``value_col``.
    No window ever sees more than one bucket of one group, exactly the
    old bound, but the full-table prefix-sum pass and its offsets join
    are gone (sf0.1: exact_percentiles 2.95s -> see OPTIMIZATION_r07).

    ``value_col`` must be non-null (NULL values would need an engine-
    specific ordering); callers drop NULL rows first.
    """
    if not (counts.storageLevel.useMemory or counts.storageLevel.useDisk):
        counts = tracked_persist(counts)  # quantiles + totals + join reads
    bkt = _quantile_bucket(counts, value_col, SCAN_BUCKETS)
    bt = counts.groupBy(*groups, bkt.alias("_pb")).agg(
        F.sum(count_col).alias("_s")
    )
    ow = Window.partitionBy(*groups).orderBy("_pb")
    bt_off = bt.select(
        *groups,
        "_pb",
        "_s",
        F.coalesce(
            F.sum("_s").over(ow.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
        F.sum("_s")
        .over(ow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n"),
    )
    # one struct per requested quantile; exactly one bucket per (group,
    # q) satisfies off < t <= off + s (empty buckets never match)
    q_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("_qi"),
                F.ceil(F.lit(float(q)) * F.col("_n")).alias("_t"),
            )
            for i, q in enumerate(qs)
        ]
    )
    targets = bt_off.select(
        *groups,
        "_pb",
        "_off",
        F.explode(
            F.filter(
                q_arr,
                lambda s: (F.col("_off") < s["_t"])
                & ((F.col("_off") + F.col("_s")) >= s["_t"]),
            )
        ).alias("_q"),
    ).select(
        *groups,
        "_pb",
        F.col("_q._qi").alias("_qi"),
        (F.col("_q._t") - F.col("_off")).alias("_r"),
    )
    j = counts.withColumn("_pb", bkt).join(
        F.broadcast(targets), [*groups, "_pb"]
    )
    cw = (
        Window.partitionBy(*groups, "_qi")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = j.withColumn("_cum", F.sum(count_col).over(cw))
    aggs = [
        F.min(
            F.when(
                (F.col("_qi") == i) & (F.col("_cum") >= F.col("_r")),
                F.col(value_col),
            )
        ).alias(f"p{int(round(q * 100))}")
        for i, q in enumerate(qs)
    ]
    return cum.groupBy(*groups).agg(*aggs)


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier flags via median absolute deviation — the
    heavy-tail-safe alternative to the z-score gate (mean/stddev are
    themselves dragged by the outliers they are supposed to catch;
    web-doc length and quality-score distributions are exactly that
    shape). Flags a row iff |x - median| > k * MAD, both statistics
    EXACT per group (Leys et al. 2013 recommend k=3 conservative /
    2.5 moderate; Hampel identifier).

    ONE corpus value-count aggregate feeds BOTH statistics: the median
    comes from the bucketed per-group prefix scan over the (group,
    value, count) table, and the DEVIATION counts are derived from the
    same table (|v - med| keyed re-aggregation — O(distinct values),
    never a second corpus scan), so the whole statistic chain touches
    the fact table exactly once plus the final flag join. No global
    sort, no one-task-per-group window, no approxQuantile in any
    ANSWER; the O(n_groups)-row statistic table joins back
    (AQE broadcasts it when small). Integer inputs stay integer
    through |x - p50|, so median and MAD are bit-stable across engines
    and partitionings.

    Degenerate-group contract: MAD = 0 (over half the group at one
    value) flags EVERY row off the median, which is the standard
    Hampel behavior and the reason k*MAD uses strict ``>``. NULL
    values never flag (comparisons are NULL-false).
    """
    groups = list(group_cols or [])
    tmp_group = not groups
    w = df.withColumn("_g", F.lit(0)) if tmp_group else df
    g = ["_g"] if tmp_group else groups
    counts = (
        # NULL values are excluded from BOTH statistics (they only ever
        # produced engine-dependent ordering and inflated _n — ADVICE
        # r6); they still appear in the output, never flagged
        w.where(F.col(value_col).isNotNull())
        .groupBy(*g, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # O(n_groups)-row stat tables get a LAZY lineage cut: the deviation
    # chain and the final flag join would otherwise embed the whole
    # median subplan (quantile windows, target-bucket joins) inside
    # their own plans — at sf0.1 the driver spent ~1.4s of measured
    # inter-job gaps just planning/compiling the doubled tree. The
    # checkpoint stays distributed (no driver data at any group count)
    # and materializes inside the first action that needs it.
    med = (
        percentiles_from_counts(counts, value_col, "_c", (0.5,), g)
        .withColumnRenamed("p50", "_med")
        .localCheckpoint(eager=False)
    )
    dev_counts = (
        counts.join(med, g)
        .select(
            *g,
            F.abs(F.col(value_col) - F.col("_med")).alias("_dev"),
            "_c",
        )
        .groupBy(*g, "_dev")
        .agg(F.sum("_c").alias("_c"))
    )
    mad = (
        percentiles_from_counts(dev_counts, "_dev", "_c", (0.5,), g)
        .withColumnRenamed("p50", "_mad")
        .localCheckpoint(eager=False)
    )
    stats = med.join(mad, g)
    # left join: a group whose values are ALL NULL has no stats row now
    # that NULLs are excluded from the counts — its rows stay in the
    # output with NULL stats and a NULL (never-true) flag
    j = w.join(stats, g, "left")
    return j.select(
        *df.columns,
        F.col("_med").alias("group_median"),
        F.col("_mad").alias("group_mad"),
        (
            F.abs(F.col(value_col) - F.col("_med"))
            > F.lit(float(k)) * F.col("_mad")
        ).alias("is_outlier"),
    )
