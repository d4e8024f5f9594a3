"""Trained model-based quality classification — the fastText-supervised
analog (Joulin et al. 2016) used by DCLM/FineWeb-style pipelines to rank
web pages with a lightweight text classifier, built as distributed
multinomial Naive Bayes over hashed word uni+bigrams.

Why NB and not SGD: the closed form IS an aggregation — per-feature
class counts + log-likelihood-ratio weights — so training is two Spark
shuffles (feature explode -> groupBy(feature) count; plus one tiny
label count), fully deterministic (no RNG, no iteration order), linear
in corpus tokens, and byte-replicable in DuckDB for the driver oracle.
fastText's own supervised mode with a linear bag-of-ngrams model and
hashed bigram buckets is the public precedent for this feature space;
at equal features NB is the order-free member of the linear-model
family, which is what an oracle-checked distributed trainer needs.

Model = ONE dense DataFrame of ``n_buckets`` rows (feature, w) + a
scalar bias, so scoring is: explode doc features -> broadcast-join the
weight table -> groupBy(doc) sum.  Docs too short to emit any feature
score ``bias`` alone (mirrored in the oracle twin).

Scale: training counts are map-side combinable; the weights table is
O(n_buckets) regardless of corpus size (2^15 default = 256 KB
broadcast); scoring shuffles one (id, weight-sum) pair per doc via
partial aggregation. Nothing is driver-side.

Tokenization is the repo-pinned RE2 whitespace class; features are
md5-hex-prefix hashes (operators/dedup._hash60) mod n_buckets — both
identical in the generated DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deidentify_spark.operators.dedup import _hash60

DEFAULT_BUCKETS = 1 << 15


def _features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    extra_cols: tuple[str, ...] = (),
    count_col: str | None = None,
) -> DataFrame:
    """(id[, extra...], feature) with multiplicity: hashed word unigrams
    + bigrams. ``extra_cols`` ride the explode (e.g. a per-doc label) so
    consumers aggregating over features never need a per-doc join —
    an O(n_docs) table can neither broadcast at corpus scale nor join
    without an extra feature-stream shuffle.

    Uni/bigram shingles are distinct strings ("foo" vs "foo bar"), so
    one hash space serves both, exactly as fastText buckets them.

    Both gram orders come from ONE ``_materialized_words`` base and ONE
    explode: the unigram array IS the words array, the bigram array is
    one transform over it, concatenated before the explode. The
    previous two-``word_shingles`` union evaluated
    ``_materialized_words`` twice — i.e. TWO full-text repartition
    shuffles and two split passes per _features evaluation (and
    _features itself is evaluated by both the counts and the scoring
    subplans, so 4 text shuffles per train+score). Measured at 50k
    pages / 8 cores (dsir): score-only 59.5-62.1s -> 32.7s, select
    52.3s -> 28.6s — 1.8-1.9x, 467k tokens/sec.
    """
    from deidentify_spark.operators.dedup import _materialized_words

    base = _materialized_words(df, text_col, id_col, extra_cols=extra_cols)
    extras = [F.col(c) for c in extra_cols]
    n_w = F.size("_words")
    # per-doc TOTAL gram count: |uni| + |bi| = n + (n-1 when n >= 2) —
    # pure arithmetic on the words array, exactly the number of rows
    # this doc's explode emits. Doubles as the count_col rider (the
    # previous consumer-side `count(1) over partitionBy(id)` window
    # computed the same number but forced a full sort of the exploded
    # occurrence stream inside the feats build).
    n_grams = n_w + F.when(n_w >= 2, n_w - 1).otherwise(0)
    counts: list = [] if count_col is None else [n_grams.alias(count_col)]
    # Round-7: grams stream through ONE scalar explode over the index
    # range [0, n_grams) — index i < n is unigram i, index i >= n is
    # bigram starting at i-n — replacing the explode of a
    # `concat(words, transform(sequence, i -> concat_ws(slice)))`
    # array build: higher-order functions are CodegenFallback, so the
    # lambda forced the gram projection into interpreted evaluation
    # (measured 3.07 s -> 0.34 s executor CPU for the sf0.1 corpus
    # gram explode; identical multiset in the identical order —
    # unigrams then bigrams). NULL text has n_grams NULL, or -1 with
    # ANSI off (size(NULL) = -1), where sequence(0, -2) would step
    # downward into phantom grams; the n_grams >= 1 guard gives it the
    # empty array, so explode emits nothing, like the old
    # concat-of-NULL form. Same guard as perplexity.lm_train_tables.
    gis = F.when(
        n_grams >= 1, F.sequence(F.lit(0), n_grams - 1)
    ).otherwise(F.array().cast("array<int>"))
    step = base.select(
        F.col(id_col),
        *extras,
        *counts,
        "_words",
        F.explode(gis).alias("_gi"),
    )
    gi = F.col("_gi")
    shingle = F.when(
        gi < n_w, F.element_at("_words", gi + 1)
    ).otherwise(F.concat_ws(" ", F.slice("_words", gi - n_w + 1, 2)))
    return step.select(
        id_col,
        *extras,
        *([count_col] if count_col is not None else []),
        F.pmod(_hash60(shingle), F.lit(n_buckets)).alias("feature"),
    )


def nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB; ``label_col`` is boolean (True = positive).

    Returns ``(weights, bias)``: a dense (feature, w) table of exactly
    ``n_buckets`` rows — w = log-likelihood ratio with Laplace ``alpha``
    — and a one-row (bias) DataFrame carrying the class-prior log-odds.
    Dense on purpose: scoring then needs no unseen-feature special case
    (an unseen bucket's weight is the pure-smoothing ratio, a real
    number, not 0).
    """
    spark = df.sparkSession
    # the label rides the feature explode (_features extra_cols) — a
    # per-doc (id, label) join here would need an O(n_docs) broadcast
    # (over Spark's limit at corpus scale) or a feature-stream shuffle
    feats = _features(
        df.withColumn("_y", F.col(label_col).cast("boolean")),
        text_col,
        id_col,
        n_buckets,
        extra_cols=("_y",),
    )
    counts = feats.groupBy("feature").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("c0"),
    )
    # counts is bounded by n_buckets rows — broadcast the completion
    # join so the dense weight build is a narrow map over range()
    dense = (
        spark.range(0, n_buckets, 1, numPartitions=8)
        .withColumnRenamed("id", "feature")
        .join(F.broadcast(counts), "feature", "left")
        .select(
            "feature",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c0", F.lit(0)).alias("c0"),
        )
    )
    # token totals per class (scalar subplans, broadcast via crossJoin)
    totals = dense.agg(
        F.sum("c1").alias("n1"), F.sum("c0").alias("n0")
    )
    weights = (
        dense.crossJoin(F.broadcast(totals))
        .select(
            "feature",
            (
                F.log((F.col("c1") + alpha) / (F.col("n1") + alpha * n_buckets))
                - F.log((F.col("c0") + alpha) / (F.col("n0") + alpha * n_buckets))
            ).alias("w"),
        )
        # lazy lineage cut (O(n_buckets) rows, stays distributed): every
        # consumer action re-broadcasts the weight table, and without
        # the cut each rebuild re-ran the train-corpus explode; the
        # scorer's plan also stops embedding the whole train subtree
        .localCheckpoint(eager=False)
    )
    # Prior log-odds, Laplace-smoothed like the feature weights: a
    # single-class training set yields a large-but-finite bias instead
    # of a ±Inf/NULL that would silently propagate NULL into every
    # nb_score downstream.
    bias = (
        df.select(F.col(label_col).cast("boolean").alias("_y"))
        .agg(
            F.log(
                (F.sum(F.when(F.col("_y"), 1).otherwise(0)) + F.lit(alpha))
                / (F.sum(F.when(F.col("_y"), 0).otherwise(1)) + F.lit(alpha))
            ).alias("bias")
        )
        .localCheckpoint(eager=False)  # 1 row; same rationale as weights
    )
    return weights, bias


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    bias: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    score_col: str = "nb_score",
) -> DataFrame:
    """Log-odds score + prediction per doc.

    Explode features -> broadcast-join the dense weight table -> one
    partial-aggregated groupBy(id) sum. Featureless docs (shorter than
    one word) fall back to the bias via the left join + coalesce.
    """
    feats = _features(df, text_col, id_col, n_buckets)
    sums = (
        feats.join(F.broadcast(weights), "feature")
        .groupBy(id_col)
        .agg(F.sum("w").alias("_wsum"))
    )
    return (
        df.join(sums, id_col, "left")
        .crossJoin(F.broadcast(bias))
        .withColumn(
            score_col, F.col("bias") + F.coalesce(F.col("_wsum"), F.lit(0.0))
        )
        .withColumn(score_col + "_pred", F.col(score_col) > 0)
        .drop("_wsum", "bias")
    )


def logreg_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    n_iters: int = 5,
    alpha: float = 1.0,
    init_c: float = 20.0,
    track_loss: bool = False,
) -> tuple[DataFrame, float] | tuple[DataFrame, float, list[float]]:
    """Distributed iteratively-trained logistic regression over the same
    hashed uni+bigram feature space as ``nb_train`` — the discriminative
    member of the fastText-style linear-classifier family (Joulin et al.
    2016) that DCLM/FineWeb-style quality filters train. Full-batch
    majorize-minimize updates, not SGD, on purpose: each step is a pure
    aggregation (no sample order, no RNG, no stale weights), so training
    is deterministic up to float summation order and byte-replicable in
    the DuckDB oracle (``logreg_oracle_sql`` unrolls the fixed iteration
    count as CTEs with the identical float-op ordering).

    Optimizer (both halves have public precedent, and both were forced
    by MEASURED failures of the naive form — plain GD from zero reached
    0.51-0.69 held-out in <=10 iters; current-Hessian diagonal Newton
    and unscaled NB init both diverged, loss 0.69 -> 16.9):
    * init at the multinomial-NB log-odds weights scaled to O(1) margins
      (scale = init_c / mean train feature count; NB init of a linear
      text model is the NBSVM recipe, Wang & Manning 2012);
    * update w_f -= g_f / h_f with the FIXED Böhning-Lindsay (1988)
      diagonal majorant h_f = 1/4 Σ_d x_df (L_d + 1): since
      sigmoid' <= 1/4 and by Cauchy-Schwarz vᵀHv <= Σ_f v_f² h_f for
      every w, each update is an exact minimizer of a quadratic upper
      bound — train log-loss decreases MONOTONICALLY, no learning rate
      to tune, no divergence regime. Measured on the 4000-page golden
      corpus (train 3000 / heldout 1000): 0.923 held-out accuracy at 5
      iterations vs 0.851 for the NB init alone.

    Returns ``(weights, bias)`` — the dense (feature, w, h) table
    (exactly ``n_buckets`` rows; unseen buckets keep their pure-
    smoothing init and h=1 so the 0-gradient update is a no-op) and the
    Python-float bias. With ``track_loss=True`` also returns the
    per-iteration train log-loss list (one extra 1-row aggregate per
    iteration; test/diagnostic use).

    Scale shape per iteration (all slim, text never re-shuffles):
    1. margins: occurrence stream ⋈ broadcast weights (O(n_buckets) ≈
       768 KB at 2^15 — a MODEL, bounded like the IVF centroids, never
       O(n_docs)) -> partial-aggregated groupBy(id) sum;
    2. residuals: per-TRAIN-doc (id, sigmoid(m)-y) — an O(n_train_docs)
       table that deliberately does NOT broadcast (ADVICE r5 posture: a
       per-doc table can exceed the 8 GB broadcast cap at corpus scale);
       it shuffle-joins back onto the feature stream;
    3. gradient: groupBy(feature) sum — map-side combinable, lands on
       n_buckets keys.
    The feature stream is computed once and persisted (slim ≈25 B/row
    (id, y, feature, L) projection); the preconditioner and NB init are
    one-time aggregations of it; weights localCheckpoint each iteration
    (the connected-components lineage-cut pattern). The BIAS rides the
    checkpointed weight table as a sentinel row (feature = -1, a bucket
    no document can hash to, h = h_bias), so its update ``b - Σr/hb``
    is the same ``w - g/h`` expression as every other coefficient and
    each iteration is exactly ONE driver action (the eager checkpoint)
    — the earlier per-iteration 1-row ``Σr`` collect was one more
    serialized driver round-trip per round (sf0.1 bench query 11.3s ->
    10.5s together with the broadcast completion/update joins and the
    window-free ``_L``; identical scores, oracle-pinned). Setup is two
    actions: one (n_train, npos) aggregate and the feats count that
    doubles as the cache materializer.

    Margins are clamped to ±40 before the sigmoid ON BOTH ENGINES:
    bit-identical to the unclamped value whenever |z| < 40 (sigmoid
    saturates to exactly 1.0 in float64 near |z|≈37) and it keeps a
    pathological outlier doc from overflowing exp() differently across
    engines.
    """
    import math

    # persist, not localCheckpoint: the cache's InMemoryRelation keeps
    # the id-hash outputPartitioning visible to Catalyst, so the
    # per-iteration groupBy(id)/join(id) reuse it exchange-free — a
    # checkpointed LogicalRDD loses it (measured +40% on the sf0.1
    # query from the re-added per-iteration exchanges)
    feats = _features(
        df.withColumn("_y", F.col(label_col).cast("boolean")),
        text_col,
        id_col,
        n_buckets,
        extra_cols=("_y",),
        # per-doc L1 feature count for the majorant, computed as array
        # arithmetic BEFORE the explode (see _features) — no window, no
        # sort of the occurrence stream
        count_col="_L",
    ).persist()
    docs = df.select(
        F.col(id_col), F.col(label_col).cast("boolean").alias("_y")
    ).persist()
    # one combined setup aggregate (count + positive count in one pass)
    _nrow = docs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("_np"),
    ).first()
    n_train = int(_nrow["_n"])
    npos = int(_nrow["_np"] or 0)
    total_occ = feats.count()
    # scale the NB init to O(1) per-doc margins: init_c / mean L1 length
    scale = init_c / (float(total_occ) / float(n_train))
    # dense init: NB log-odds * scale, Böhning-Lindsay majorant h
    counts = feats.groupBy("feature").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("c0"),
        (F.sum(F.col("_L") + 1) / F.lit(4.0)).alias("h"),
    )
    spark = df.sparkSession
    # counts is bounded by n_buckets rows (a MODEL-sized table, like the
    # weights it becomes) — broadcast it so the dense completion is a
    # narrow map over range() instead of a 2-exchange sort-merge join
    dense = (
        spark.range(0, n_buckets, 1, numPartitions=8)
        .withColumnRenamed("id", "feature")
        .join(F.broadcast(counts), "feature", "left")
        .select(
            "feature",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c0", F.lit(0)).alias("c0"),
            F.coalesce("h", F.lit(1.0)).alias("h"),
        )
    )
    totals = dense.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"))
    bias0 = math.log((npos + alpha) / ((n_train - npos) + alpha)) * scale
    h_bias = (float(total_occ) + float(n_train)) / 4.0
    spark_sess = df.sparkSession
    # The bias rides the weight table as the feature = -1 sentinel row
    # (pmod(h, n_buckets) is always >= 0, so no document feature can
    # collide with it); its h IS the Böhning-Lindsay bias majorant, so
    # the shared `w - g/h` update below performs `b - Σr/hb` exactly.
    # coalesce(1): createDataFrame spreads even a 1-row local relation
    # over defaultParallelism partitions, and the union below would
    # carry those 32 near-empty partitions into EVERY per-iteration
    # weights checkpoint (40 write tasks per round for a model-sized
    # table; round 7, measured in the solo-query stage profile)
    bias_row = spark_sess.createDataFrame(
        [(-1, float(bias0), float(h_bias))], "feature long, w double, h double"
    ).coalesce(1)
    weights = (
        dense.crossJoin(F.broadcast(totals))
        .select(
            "feature",
            (
                (
                    F.log((F.col("c1") + alpha) / (F.col("n1") + alpha * n_buckets))
                    - F.log((F.col("c0") + alpha) / (F.col("n0") + alpha * n_buckets))
                )
                * F.lit(scale)
            ).alias("w"),
            "h",
        )
        .unionByName(bias_row)
        .localCheckpoint(eager=True)
    )
    losses: list[float] = []
    for _ in range(n_iters):
        wt = weights.where(F.col("feature") >= 0)
        b_row = F.broadcast(
            weights.where(F.col("feature") < 0).select(F.col("w").alias("_b"))
        )
        wsums = (
            feats.join(F.broadcast(wt), "feature")
            .groupBy(id_col)
            .agg(F.sum("w").alias("_s"))
        )
        # residual r = sigmoid(clamp(bias + Σw)) - y; op order mirrors
        # the oracle twin exactly (the broadcast bias scalar carries the
        # identical double the old F.lit(bias) literal held)
        z = F.greatest(
            F.lit(-40.0),
            F.least(
                F.lit(40.0),
                F.col("_b") + F.coalesce(F.col("_s"), F.lit(0.0)),
            ),
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = (
            docs.join(wsums, id_col, "left")
            .crossJoin(b_row)
            .select(
                id_col,
                F.col("_y"),
                (p - F.col("_y").cast("double")).alias("_r"),
                p.alias("_p"),
            )
            .persist()
        )
        if track_loss:
            losses.append(
                resid.agg(
                    F.avg(
                        -(
                            F.col("_y").cast("double")
                            * F.log(F.greatest(F.col("_p"), F.lit(1e-15)))
                            + (F.lit(1.0) - F.col("_y").cast("double"))
                            * F.log(
                                F.greatest(
                                    F.lit(1.0) - F.col("_p"), F.lit(1e-15)
                                )
                            )
                        )
                    ).alias("l")
                ).first()[0]
            )
        grad = (
            feats.join(resid.select(id_col, "_r"), id_col)
            .groupBy("feature")
            .agg(F.sum("_r").alias("_g"))
        )
        grad_all = grad.unionByName(
            resid.agg(F.sum("_r").alias("_g")).select(
                F.lit(-1).cast("long").alias("feature"), "_g"
            )
        )
        # grad_all is <= n_buckets + 1 rows (model-sized): broadcasting
        # it keeps the update a narrow map over the checkpointed weights
        # instead of shuffling both sides of the join
        weights = (
            weights.join(F.broadcast(grad_all), "feature", "left")
            .select(
                "feature",
                (
                    F.col("w")
                    - F.coalesce(F.col("_g"), F.lit(0.0)) / F.col("h")
                ).alias("w"),
                "h",
            )
            .localCheckpoint(eager=True)
        )
        resid.unpersist()
    feats.unpersist()
    docs.unpersist()
    bias = float(weights.where(F.col("feature") < 0).first()["w"])
    weights = weights.where(F.col("feature") >= 0)
    if track_loss:
        return weights, bias, losses
    return weights, bias


def logreg_score(
    df: DataFrame,
    weights: DataFrame,
    bias: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    score_col: str = "lr_score",
) -> DataFrame:
    """Margin score + prediction per doc — ``nb_score``'s plan shape
    (explode -> broadcast weight join -> one partial-aggregated
    groupBy(id) sum) with the trained scalar bias; featureless docs
    score ``bias`` alone via the left join + coalesce."""
    feats = _features(df, text_col, id_col, n_buckets)
    sums = (
        feats.join(F.broadcast(weights.select("feature", "w")), "feature")
        .groupBy(id_col)
        .agg(F.sum("w").alias("_wsum"))
    )
    return (
        df.join(sums, id_col, "left")
        .withColumn(
            score_col, F.lit(bias) + F.coalesce(F.col("_wsum"), F.lit(0.0))
        )
        .withColumn(score_col + "_pred", F.col(score_col) > 0)
        .drop("_wsum")
    )


def logreg_oracle_sql(
    table: str,
    train_where: str,
    label_expr: str,
    n_buckets: int = DEFAULT_BUCKETS,
    n_iters: int = 5,
    alpha: float = 1.0,
    init_c: float = 20.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> str:
    """DuckDB twin of logreg_train + logreg_score: NB-scaled init +
    the fixed-count Böhning-Lindsay MM loop unrolled as CTE chains
    (w0..wT, b via scalar subchains), every float operation in the same
    order as the Spark side (±40 margin clamp, sigmoid form, ``w -
    g/h``, ``b - Σr/hb``; the majorant h is an exact integer sum / 4.0
    on both engines), score rounded to absorb summation-order noise.
    Tokenization/hashing replicate ``nb_oracle_sql``."""
    words = f"regexp_split_to_array(lower(trim({text_col}, ' ')), '[ \\t\\n\\f\\r]+')"
    shingle = {1: "w[i]", 2: "w[i] || ' ' || w[i+1]"}
    grams = "\nUNION ALL\n".join(
        f"""
        SELECT {id_col},
               unnest([('0x'||substr(md5({shingle[n]}),1,15))::BIGINT % {n_buckets}
                       for i in generate_series(1, len(w) - {n - 1})]) AS feature
        FROM (SELECT {id_col}, {words} AS w FROM {table}) t
        """
        for n in (1, 2)
    )
    ic = repr(float(init_c))
    scale = f"({ic} / ((SELECT c FROM occ) / (SELECT n FROM n)))"
    hb = "(((SELECT c FROM occ) + (SELECT n FROM n)) / 4.0)"
    parts = [
        f"WITH feats AS MATERIALIZED ({grams})",
        f"""train AS MATERIALIZED (SELECT * FROM feats WHERE {id_col} IN
                (SELECT {id_col} FROM {table} WHERE {train_where}))""",
        f"""docs AS MATERIALIZED (SELECT {id_col}, ({label_expr}) AS y
                FROM {table} WHERE {train_where})""",
        "n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs)",
        "occ AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM train)",
        f"lens AS MATERIALIZED (SELECT {id_col}, COUNT(*) AS L FROM train GROUP BY {id_col})",
        f"""counts AS MATERIALIZED (
            SELECT b.feature,
                   COUNT(*) FILTER (WHERE tl.y) AS c1,
                   COUNT(*) FILTER (WHERE NOT tl.y) AS c0,
                   COALESCE(SUM(tl.L + 1) / 4.0, 1.0) AS h
            FROM (SELECT i AS feature FROM generate_series(0, {n_buckets - 1}) g(i)) b
            LEFT JOIN (SELECT t.feature, d.y, l.L
                       FROM train t
                       JOIN docs d USING ({id_col})
                       JOIN lens l USING ({id_col})) tl USING (feature)
            GROUP BY b.feature
        )""",
        "tot AS MATERIALIZED (SELECT SUM(c1) AS n1, SUM(c0) AS n0 FROM counts)",
        f"""w0 AS MATERIALIZED (
            SELECT feature,
                   (ln((c1 + {alpha}) / (n1 + {alpha} * {n_buckets}))
                  - ln((c0 + {alpha}) / (n0 + {alpha} * {n_buckets}))) * {scale} AS w,
                   h
            FROM counts, tot
        )""",
        f"""b0 AS MATERIALIZED (
            SELECT ln((SUM(CASE WHEN y THEN 1 ELSE 0 END) + {alpha})
                    / (SUM(CASE WHEN y THEN 0 ELSE 1 END) + {alpha})) * {scale} AS b
            FROM docs
        )""",
    ]
    for k in range(1, n_iters + 1):
        b_prev = f"(SELECT b FROM b{k - 1})"
        parts += [
            f"""s{k} AS MATERIALIZED (SELECT t.{id_col}, SUM(w.w) AS s
                    FROM train t JOIN w{k - 1} w USING (feature)
                    GROUP BY t.{id_col})""",
            f"""r{k} AS MATERIALIZED (SELECT d.{id_col},
                    1.0/(1.0 + exp(-(GREATEST(-40.0, LEAST(40.0,
                        {b_prev} + COALESCE(s.s, 0.0))))))
                      - (CASE WHEN d.y THEN 1.0 ELSE 0.0 END) AS r
                    FROM docs d LEFT JOIN s{k} s USING ({id_col}))""",
            f"""b{k} AS MATERIALIZED (SELECT {b_prev}
                      - (SELECT SUM(r) FROM r{k}) / {hb} AS b)""",
            f"""g{k} AS MATERIALIZED (SELECT t.feature, SUM(r.r) AS g
                    FROM train t JOIN r{k} r USING ({id_col})
                    GROUP BY t.feature)""",
            f"""w{k} AS MATERIALIZED (SELECT w.feature,
                    w.w - COALESCE(g.g, 0.0) / w.h AS w, w.h
                    FROM w{k - 1} w LEFT JOIN g{k} g USING (feature))""",
        ]
    parts.append(
        f"""sums AS MATERIALIZED (SELECT f.{id_col}, SUM(w.w) AS wsum
                FROM feats f JOIN w{n_iters} w USING (feature)
                GROUP BY f.{id_col})"""
    )
    return (
        ",\n".join(parts)
        + f"""
        SELECT d.{id_col},
               ROUND((SELECT b FROM b{n_iters}) + COALESCE(s.wsum, 0.0), {round_to}) AS lr_score,
               ((SELECT b FROM b{n_iters}) + COALESCE(s.wsum, 0.0)) > 0 AS lr_pred
        FROM {table} d LEFT JOIN sums s USING ({id_col})
        ORDER BY d.{id_col}
    """
    )


def nb_oracle_sql(
    table: str,
    train_where: str,
    label_expr: str,
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> str:
    """DuckDB twin of nb_train + nb_score over one table: train on the
    rows matching ``train_where`` with boolean ``label_expr``, score
    every row. Tokenization/hashing/weight math replicate the Spark
    side exactly; the score is rounded to absorb summation-order noise.
    """
    words = f"regexp_split_to_array(lower(trim({text_col}, ' ')), '[ \\t\\n\\f\\r]+')"
    shingle = {
        1: "w[i]",
        2: "w[i] || ' ' || w[i+1]",
    }
    # list-comprehension + unnest (DuckDB's generate_series cannot take a
    # lateral column bound as a table function — repo-wide oracle idiom)
    grams = "\nUNION ALL\n".join(
        f"""
        SELECT {id_col}, y,
               unnest([('0x'||substr(md5({shingle[n]}),1,15))::BIGINT % {n_buckets}
                       for i in generate_series(1, len(w) - {n - 1})]) AS feature
        FROM (SELECT {id_col}, ({label_expr}) AS y, {words} AS w FROM {table}) t
        """
        for n in (1, 2)
    )
    return f"""
        WITH feats AS ({grams}),
        train AS (SELECT * FROM feats WHERE {id_col} IN
                    (SELECT {id_col} FROM {table} WHERE {train_where})),
        counts AS (
            -- FILTER, not CASE: an unmatched bucket's NULL y must count
            -- as ZERO tokens in both classes, not as one class-0 token
            SELECT b.feature,
                   COUNT(*) FILTER (WHERE t.y) AS c1,
                   COUNT(*) FILTER (WHERE NOT t.y) AS c0
            FROM (SELECT i AS feature FROM generate_series(0, {n_buckets - 1}) g(i)) b
            LEFT JOIN train t USING (feature) GROUP BY b.feature
        ),
        tot AS (SELECT SUM(c1) AS n1, SUM(c0) AS n0 FROM counts),
        weights AS (
            SELECT feature,
                   ln((c1 + {alpha}) / (n1 + {alpha} * {n_buckets}))
                 - ln((c0 + {alpha}) / (n0 + {alpha} * {n_buckets})) AS w
            FROM counts, tot
        ),
        bias AS (
            -- prior smoothed with the same alpha as the weights (twin
            -- of nb_train's single-class-safe bias)
            SELECT ln((SUM(CASE WHEN ({label_expr}) THEN 1 ELSE 0 END) + {alpha})
                    / (SUM(CASE WHEN ({label_expr}) THEN 0 ELSE 1 END) + {alpha})) AS bias
            FROM {table} WHERE {train_where}
        ),
        sums AS (
            SELECT f.{id_col}, SUM(w.w) AS wsum
            FROM feats f JOIN weights w USING (feature)
            GROUP BY f.{id_col}
        )
        SELECT d.{id_col},
               ROUND(bias.bias + COALESCE(s.wsum, 0.0), {round_to}) AS nb_score,
               (bias.bias + COALESCE(s.wsum, 0.0)) > 0 AS nb_pred
        FROM {table} d LEFT JOIN sums s USING ({id_col}), bias
        ORDER BY d.{id_col}
    """
