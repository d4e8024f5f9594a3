"""Corpus-curation operators a training-data pipeline runs between
dedup and tokenization: substring-level duplicate-span detection,
deterministic stratified sampling (data-mixing weights),
concat-and-chunk sequence packing, and benchmark decontamination
(n-gram overlap vs a held-out eval set).

All are pure DataFrame compositions (no Python UDFs):

* dup spans:  positional k-gram explode -> per-gram global occurrence
  count (one window shuffle on the gram hash) -> gaps-and-islands merge
  of overlapping [pos, pos+k) intervals per doc (one shuffle on doc_id).
  This is the DataFrame form of suffix-array substring dedup (Lee et
  al., "Deduplicating Training Data Makes Language Models Better"):
  instead of a corpus-wide suffix array, every length-k token window is
  hashed and any window occurring >= min_occ times anywhere in the
  corpus marks its span as duplicated; overlapping marked windows merge
  into maximal spans, exactly the byte-range output the suffix-array
  method emits (granularity k instead of exact longest-match).
* stratified sample:  ZERO-shuffle map-only filter. The keep decision is
  a pure function of (seed, doc_id) — first 8 md5 hex chars as a uniform
  u32 — compared against a per-stratum rate from a literal map, so the
  same doc survives the same way on every run, every retry, and every
  cluster size (resume-safe; no RNG state, no sampling shuffle).
* pack sequences:  GPT-style concat-and-chunk. Docs are laid end-to-end
  in (stratum, doc_id) order and cut into fixed token budgets; a doc's
  chunk is floor(start_offset / budget). The running offset is a
  bucketed two-level scan (scan.partitioned_prefix_sum) — bounded task
  size even when one stratum IS the corpus. Chunk boundaries may split
  a doc (by design — this is how LM pretraining actually packs context
  windows); the alternative greedy "close the bin when the next doc
  doesn't fit" is inherently sequential and is NOT this operator.

Scale notes (100 TB): the dup-span gram window partitions by a 64-bit
gram hash, so a boilerplate gram repeated across the corpus lands on one
task — counting is linear and the window carries only (doc_id, pos),
but a truly degenerate gram (empty-page boilerplate at 10^8 occurrences)
should be removed by exact dedup first, same caveat as the n-gram
Jaccard chain (dedup.py). Packing offsets and duplicated-line/gram key
sets are deliberately NOT windows over their hot keys — see each
operator's docstring for the skew argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deidentify_spark.operators.dedup import _seeded_md5


def _positional_gram_hashes(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, gh) — a 64-bit identity hash for every length-k word
    window; 0-based pos. Tokenization matches word_shingles
    (lower/trim/RE2 whitespace) so span offsets line up with the shingle
    operators and the DuckDB twin. Docs with < k words yield no rows
    (their lead(k-1) window is incomplete and filtered).

    Built over the exchange-materialized words array (see
    _materialized_words in operators/dedup.py for why the barrier is
    load-bearing: no CSE inside HOF lambdas — an inlined split would
    re-run per element, O(n_grams x split_cost) per doc). The gram
    identity is xxhash64 of the k-word slice — no per-gram string is
    ever materialized; equivalent to hashing the joined string modulo
    64-bit collisions (the DuckDB twins group the strings — same
    equivalence class as before)."""
    from deidentify_spark.operators.dedup import _materialized_words

    base = _materialized_words(df, text_col, id_col)
    # Round-7: scalar explode of the position range, xxhash64(slice)
    # per OUTPUT row — the previous transform(sequence, lambda) array
    # build evaluated interpreted (HOFs are CodegenFallback; see
    # classifier._features for the measured 9x CPU delta of the same
    # rewrite). posexplode(pos, gh) == (explode positions, hash per
    # row): identical rows, identical 0-based positions.
    idx = F.when(
        F.size("_words") >= k,
        F.sequence(F.lit(0), F.size("_words") - k),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col(id_col), "_words", F.explode(idx).alias("pos")
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.xxhash64(F.slice("_words", F.col("pos") + 1, k)).alias("gh"),
    )


def _dup_spans(
    df: DataFrame, k: int, min_occ: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, island, s, e) maximal duplicated word-spans [s, e) — the
    shared core of ``dup_span_stats`` (reporting) and
    ``remove_dup_spans`` (rewrite).

    Aggregate-then-join — the two rejected shapes, both MEASURED at
    100k pages x ~190 grams/doc:
    * count-over-window sorts the ENTIRE gram table by gh and OOMs 32
      concurrent 1-GiB-heap sort tasks (counting needs no sort);
    * group-collect-filter-explode (the minhash-bucket idiom) hits
      ObjectHashAggregate's sort-based fallback (it triggers at 128
      distinct keys; gram keys are millions) — the same full sort.
    Here the duplicated-gram KEY SET comes from a codegen
    HashAggregate count (spill-safe, no row wider than 16 bytes) and
    joins back onto the grams; AQE broadcasts it when small (39k keys
    on the worst-case synthetic corpus vs 1.4M distinct) and falls
    back to a shuffle join when boilerplate makes it huge. At RUNTIME
    AQE reuses the materialization exchange across the two branches
    (ReusedExchange in the executed FINAL plan; it is invisible on
    the pre-execution plan string — an unexecuted plan copy misled an
    earlier version of this comment), so the text shuffle and the
    split run ONCE; only the cheap post-shuffle gram hashing repeats
    per branch.
    """
    grams = _positional_gram_hashes(df, k, text_col, id_col)
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_occ)
        .select("gh")
    )
    marked = grams.join(dup_gh, "gh")

    by_pos = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.select(
        id_col,
        "pos",
        F.sum(
            F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
        )
        .over(by_pos)
        .alias("island"),
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + k).alias("e")
    )


def dup_span_stats(
    df: DataFrame,
    k: int = 10,
    min_occ: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc duplicated-substring spans: every length-k token window
    occurring >= min_occ times corpus-wide (within-doc repeats count)
    marks [pos, pos+k); overlapping/adjacent marks merge into maximal
    spans. Returns (id, n_dup_spans, n_dup_tokens, max_span_tokens) for
    docs that have at least one duplicated span.

    Gram identity is xxhash64 over the k word columns, not the joined
    string — the window shuffles 8 bytes per position instead of ~60
    and no gram string is ever built. A 64-bit collision
    merges two grams' occurrence counts (p ~ n^2/2^65 — at 10^9 distinct
    grams ~3% chance of ONE collision corpus-wide, which can only
    over-mark k tokens); the DuckDB twin groups the strings, identical
    modulo that negligible class.
    """
    spans = _dup_spans(df, k, min_occ, text_col, id_col)
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("n_dup_tokens"),
        F.max(F.col("e") - F.col("s")).alias("max_span_tokens"),
    )


def remove_dup_spans(
    df: DataFrame,
    k: int = 10,
    min_occ: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicated-substring REMOVAL — the rewrite step of
    Lee et al. 2021's ExactSubstr dedup in this repo's k-gram form:
    every maximal duplicated span found by the ``dup_span_stats``
    machinery is cut from EVERY document containing one (remove-all,
    matching the released deduplicate-text-datasets behavior of cutting
    each duplicated byte range, and ``line_dedup``'s boilerplate
    posture).

    Returns the input plus ``n_words``, ``n_words_removed`` and
    ``cleaned_text``. Affected docs are rebuilt as the space-joined
    kept words (the operator's word-level normal form — original
    inter-word whitespace is not preserved); untouched docs pass
    through byte-identical.

    Scale shape: span detection is ``_dup_spans``' aggregate-then-join
    chain (document text never rides that shuffle — 8-byte gram hashes
    do); removal folds the disjoint spans to one (id, drop-positions)
    row per AFFECTED doc only, and the rewrite is ``line_dedup``'s
    O(words + drops) hash-set position gather from a
    barrier-materialized word array. The rewrite array keeps the
    ORIGINAL case (split positions are identical to the lowered
    detection tokenization — lowering never changes whitespace).
    """
    from deidentify_spark.functions.text_stats import RE2_WS_CLASS

    spans = _dup_spans(df, k, min_occ, text_col, id_col)
    removals = spans.groupBy(id_col).agg(
        F.flatten(
            F.collect_list(F.sequence(F.col("s"), F.col("e") - 1))
        ).alias("_drop_pos"),
        F.sum(F.col("e") - F.col("s")).cast("int").alias("n_words_removed"),
    )
    arr = F.split(F.trim(F.col(text_col)), RE2_WS_CLASS + "+")
    bar = df.select(
        F.explode(
            F.array(
                F.struct(
                    *[F.col(c) for c in df.columns], arr.alias("_word_arr")
                )
            )
        ).alias("_s")
    ).select("_s.*")
    out = bar.join(removals, id_col, "left")
    marr = F.col("_word_arr")
    drop_pos = F.coalesce("_drop_pos", F.array().cast("array<int>"))
    keep_pos = F.array_except(
        F.sequence(F.lit(0), F.size(marr) - F.lit(1)), drop_pos
    )
    cleaned = F.array_join(
        F.transform(keep_pos, lambda p: F.element_at(marr, p + F.lit(1))), " "
    )
    return (
        out.withColumn("n_words", F.size(marr).cast("int"))
        .withColumn(
            "n_words_removed", F.coalesce("n_words_removed", F.lit(0))
        )
        .withColumn(
            "cleaned_text",
            F.when(F.col("n_words_removed") == 0, F.col(text_col)).otherwise(
                cleaned
            ),
        )
        .drop("_drop_pos", "_word_arr")
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    seed: int = 42,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff
    u32(md5(f"{seed}:{id}")) / 2^32 < rate(stratum). Map-only (no
    shuffle, no RNG state); rates ship as a literal CASE, so the plan
    stays fully codegen'd and the filter pushes below later stages.
    This is the data-mixing primitive: up/down-weight sources to hit a
    target corpus composition, reproducibly across retries and reruns.
    """
    u = _seeded_md5(seed, F.col(id_col), 8) / F.lit(float(2**32))
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, float(r)).otherwise(rate)
    return df.where(u < rate)


def mixture_weights(
    df: DataFrame,
    alpha: float = 0.5,
    target_total: int | None = None,
    strata_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source mixing (the multi-source pretraining
    recipe, e.g. multilingual sampling p_s ∝ n_s^alpha): alpha < 1
    upweights tail sources relative to their natural share, alpha = 1
    is proportional, alpha = 0 uniform. Returns per-source n_docs, the
    normalized mixture weight, and — when ``target_total`` is given —
    the per-source Bernoulli ``rate`` (capped at 1.0: a source cannot
    yield more docs than it has; the shortfall from capping is visible
    as sum(rate*n_docs) < target and is the caller's re-normalization
    decision, not silently redistributed) that feeds straight into
    ``stratified_sample``. One count aggregate + a broadcast scalar —
    O(distinct sources).
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    z = counts.agg(
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))).alias("z")
    )
    out = counts.crossJoin(F.broadcast(z)).select(
        strata_col,
        "n_docs",
        (F.pow(F.col("n_docs").cast("double"), F.lit(alpha)) / F.col("z")).alias(
            "weight"
        ),
    )
    if target_total is not None:
        out = out.withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.lit(float(target_total)) * F.col("weight") / F.col("n_docs"),
            ),
        )
    return out


def rebalance_mixture(
    df: DataFrame,
    targets: dict[str, float],
    budget: int,
    strata_col: str = "lang",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Sample the corpus to an explicit TARGET mixture by token/char
    MASS in one plan — the application step of a data-mixing recipe
    (the DoReMi / Pile posture: domain weights are decided upstream;
    this operator materializes a corpus whose expected ``weight_col``
    mass per stratum is ``budget * targets[stratum]``).

    Differs from ``mixture_weights`` + ``stratified_sample`` in two
    ways that matter at corpus scale: rates are computed from TOKEN
    mass, not document counts (a stratum of few huge docs is not
    over-sampled), and they stay IN-PLAN — one map-side-combined
    groupBy(stratum) sum joined back on the stratum key (O(n_strata)
    rows; AQE broadcasts it) — so there is no driver round-trip between
    the weighing and the sampling and the whole thing composes into a
    larger lazy pipeline.

    Per-stratum Bernoulli rate: min(1, budget*target_s / mass_s),
    capped exactly as mixture_weights caps (a stratum cannot yield more
    mass than it has; the shortfall is the caller's re-normalization
    decision). The keep decision is the same deterministic
    u32(md5(seed:id))/2^32 threshold as stratified_sample — replayable
    across retries, partitionings, and engines. Strata absent from
    ``targets`` get rate 0 (the inner rate join drops them), which is
    the contract: the target mixture IS the whitelist.
    """
    t_map = F.create_map(
        *[x for s, t in sorted(targets.items()) for x in (F.lit(s), F.lit(float(t)))]
    )
    rates = (
        df.groupBy(strata_col)
        .agg(F.sum(F.col(weight_col).cast("double")).alias("_mass"))
        .withColumn("_target", t_map[F.col(strata_col)])
        .where(F.col("_target").isNotNull())
        .select(
            strata_col,
            F.least(
                F.lit(1.0),
                F.lit(float(budget)) * F.col("_target") / F.col("_mass"),
            ).alias("rate"),
        )
    )
    u = _seeded_md5(seed, F.col(id_col), 8) / F.lit(float(2**32))
    return df.join(rates, strata_col).where(u < F.col("rate")).select(df.columns)


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk packing: within each stratum, docs (ordered by
    id) are laid end-to-end and cut every ``budget`` whitespace tokens;
    a doc belongs to the chunk its first token falls in. Returns one row
    per (stratum, chunk_id): n_docs, n_tokens, first/last doc. Feeding
    chunks (not raw docs) downstream gives the tokenizer fixed-size work
    units and removes padding waste — the standard LM packing step.

    The per-stratum running offset is a ``partitioned_prefix_sum``
    (operators/scan.py), NOT a ``Window.partitionBy(stratum)`` running
    sum: a dominant stratum (the normal case — "web" is ~90% of a real
    mix) would sort its entire corpus share in ONE task under the plain
    window; the bucketed scan bounds every task to ~n_stratum/B rows and
    folds bucket offsets distributedly.
    """
    from deidentify_spark.functions.text_stats import RE2_WS_CLASS
    from deidentify_spark.operators.scan import partitioned_prefix_sum

    # F.split('') yields [''] (size 1); empty/whitespace-only docs must
    # count 0 tokens — the convention token_counts_documents uses — or a
    # phantom token shifts every later doc's start offset in the stratum
    n_tokens = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(
        F.size(F.split(F.lower(F.trim(F.col(text_col))), RE2_WS_CLASS + "+"))
    ).cast("bigint")
    slim = df.select(
        F.col(id_col),
        F.col(strata_col),
        n_tokens.alias("n_tokens"),
    )
    off = partitioned_prefix_sum(
        slim, [strata_col], id_col, ["n_tokens"]
    ).withColumn("start_off", F.col("cum_n_tokens") - F.col("n_tokens"))
    return off.groupBy(
        strata_col, (F.col("start_off") / budget).cast("bigint").alias("chunk_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def chunk_text(
    df: DataFrame,
    window: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window WITHIN-doc chunking — the RAG / long-context prep
    step that splits each document into overlapping fixed-size token
    windows (start positions 0, stride, 2·stride, … < n_words; overlap
    = window − stride): embedding-index construction and
    long-document training both consume these instead of whole pages.
    The complement to ``pack_sequences``, which concatenates ACROSS
    docs; this splits WITHIN one and never mixes documents.

    Returns (id, chunk_idx, chunk_text, n_tokens) — one row per chunk,
    empty/whitespace-only docs yield none. Tokenization is the simple
    split-on-space / drop-empties convention (operators/vocab.py).

    Scale shape: a pure map-side projection + posexplode — the start
    list, slices and joins are all array expressions over the one
    in-row word array, so there is NO shuffle, NO join and NO window in
    the plan; output rows are (window)-token strings that flow straight
    into the scan-side stage chain (then the embedding/encode UDFs).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    words = F.filter(
        F.split(F.col(text_col), " "), lambda w: w != F.lit("")
    )
    # Generate-node barrier binds the word array as an attribute so the
    # per-chunk slices inside the transform lambda are O(window) array
    # reads, not re-splits (no CSE inside HOF lambdas — the hazard
    # _materialized_words documents; this is the shuffle-free
    # explode(array(struct)) form line_dedup uses)
    bar = df.select(
        F.col(id_col),
        F.explode(F.array(F.struct(words.alias("_w")))).alias("_s"),
    ).select(id_col, F.col("_s._w").alias("_w"))
    n = F.size("_w")
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(F.col("_w"), s + 1, window), " ").alias("t"),
            F.least(F.lit(window), n - s).cast("int").alias("k"),
        ),
    )
    return bar.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(
        id_col,
        "chunk_idx",
        F.col("_c.t").alias("chunk_text"),
        F.col("_c.k").alias("n_tokens"),
    )


def decontaminate_flags(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with an evaluation set (the GPT-3/PaLM 13-gram-overlap
    technique, n configurable). Returns (id, n_contaminated_grams,
    n_distinct_eval_grams_hit) per flagged doc — the remove/keep policy
    is the caller's (training pipelines usually drop or split).

    Scale shape: the eval set is tiny next to the corpus (benchmarks are
    thousands of docs, the corpus 10^12), so its distinct gram-hash set
    BROADCASTS — the corpus side is one narrow explode + broadcast
    semi-join-style aggregation, no shuffle of corpus grams at all
    (pinned in tests/test_plans.py: BroadcastHashJoin, zero exchanges on
    the corpus branch below the final per-doc groupBy). Gram identity is
    xxhash64, same collision math as dup_span_stats.
    """
    eval_grams = (
        _positional_gram_hashes(eval_df, n, text_col, id_col)
        .select("gh")
        .distinct()
    )
    doc_grams = _positional_gram_hashes(df, n, text_col, id_col).select(
        id_col, "gh"
    )
    hits = doc_grams.join(F.broadcast(eval_grams), "gh")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_contaminated_grams"),
        F.count_distinct("gh").alias("n_distinct_eval_grams_hit"),
    )


def fuzzy_decontaminate_flags(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus docs that are
    MinHash-LSH-similar to any evaluation document — the paraphrase /
    light-edit contamination the exact n-gram pass
    (``decontaminate_flags``) cannot see (a reworded eval question
    shares few verbatim 8-grams but most of its shingle set, so its
    banded minhash signature still collides).

    Returns (id, n_eval_docs_hit, n_bands_hit) per flagged corpus doc:
    how many distinct eval docs share >=1 full band signature, and in
    how many of the doc's ``bands`` band slots a collision occurred
    (bands hit ~ estimated Jaccard via the LSH S-curve; callers gate on
    it when one-band collisions are too noisy).

    Scale shape mirrors ``decontaminate_flags``: the eval side is tiny
    (benchmarks are thousands of docs) so its (band, sig, eval_id)
    membership BROADCASTS and the corpus side is one narrow
    signature map + broadcast hash join — corpus band rows never
    shuffle. No bucket self-join exists in this plan at all (unlike the
    corpus-vs-corpus LSH operator there is no pair emission), so no
    bucket cap is needed: a degenerate boilerplate signature costs one
    broadcast-probe per corpus row, not C(m,2) pairs."""
    from deidentify_spark.operators.dedup import _minhash_band_membership

    corpus = _minhash_band_membership(df, n, k, bands, text_col, id_col)
    ev = (
        _minhash_band_membership(eval_df, n, k, bands, text_col, id_col)
        .withColumnRenamed(id_col, "_eval_id")
        .distinct()
    )
    hits = corpus.join(F.broadcast(ev), ["band", "sig"])
    return hits.groupBy(id_col).agg(
        F.count_distinct("_eval_id").alias("n_eval_docs_hit"),
        F.count_distinct("band").alias("n_bands_hit"),
    )


def sample_exact_k(
    df: DataFrame,
    k: int,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic EXACTLY-k global sample: rank every row by
    md5(f"{seed}:{id}") and keep the k smallest. The complement to
    ``stratified_sample`` (per-stratum Bernoulli — exact in expectation
    only): eval-set carve-outs, human-review draws, and calibration
    panels need an exact count, reproducible across retries, reruns and
    cluster sizes (no RNG state — the keep set is a pure function of
    (seed, id), and adding/removing OTHER rows only perturbs the sample
    at the rank-k boundary).

    Scale shape: Spark compiles orderBy+limit to TakeOrderedAndProject —
    a size-k heap per partition, then a single k*n_partitions merge; no
    global sort, no full shuffle. Driver/final-task memory is O(k),
    so this is for k in the thousands-to-millions band (an eval draw),
    not "sample half the corpus" — that is ``stratified_sample``'s job.
    """
    u = _seeded_md5(seed, F.col(id_col))
    return df.orderBy(u.asc(), F.col(id_col)).limit(k)


def sample_weighted_exact_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic EXACTLY-k WEIGHTED sample without replacement,
    P(row drawn) proportional to ``weight_col`` — the
    Efraimidis-Spirakis (2006) reservoir scheme, realized as Gumbel
    top-k (the two are the same algorithm: ES keeps the k largest
    u^(1/w), i.e. the k largest ln(u)/w = the k largest
    ln(w) + Gumbel(0,1) draws): reuses ``dsir.gumbel_key`` with
    logw = ln(weight), so the draw is a pure function of (seed, id,
    weight) — replayable across retries, reruns, and cluster sizes,
    and exactly reproducible by the SQL oracle.

    Rows with weight <= 0 (or NULL) are excluded — they have zero
    selection probability by definition.

    Scale shape: same as ``sample_exact_k`` — orderBy+limit compiles
    to TakeOrderedAndProject (size-k heap per partition + one k*P
    merge), no global sort, driver memory O(k). Mixture sampling at
    corpus scale (quality-weighted, length-weighted, temperature-
    scaled domain weights) is this operator with the weight column
    precomputed."""
    from deidentify_spark.operators.dsir import gumbel_key

    j = df.where(F.col(weight_col) > 0).withColumn(
        "_logw", F.log(F.col(weight_col).cast("double"))
    )
    return (
        j.withColumn("_wkey", gumbel_key(id_col, "_logw", seed))
        .orderBy(F.desc("_wkey"), F.col(id_col))
        .limit(k)
        .drop("_logw", "_wkey")
    )


def group_disjoint_split(
    df: DataFrame,
    group_col: str,
    test_frac: float = 0.1,
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/test split: every row of a GROUP (host,
    domain, author, near-dup cluster id...) lands in the SAME split —
    the contamination rule row-level random splits violate (two
    near-identical pages from one host in train and eval inflate eval
    scores; the group key is whatever unit leakage travels through).

    Assignment is a pure function of (seed, group): u = hash-uniform
    of md5("split:{seed}:" || group), test iff u < test_frac — so the
    split is reproducible across reruns/cluster sizes and INCREMENTAL:
    a new snapshot's rows join the split their group already had,
    without reading the old assignment.

    Scale shape: one map-side expression, zero shuffles, zero joins —
    the split column is computed row-local from the group value
    (deliberately NOT a groupBy: materializing the group table first
    would cost a shuffle and add nothing, since equal group values
    hash equally everywhere). Expected test mass is test_frac of
    GROUPS, not rows — a dominant group swings row fractions, which is
    inherent to group-disjointness, not a defect."""
    u = (
        F.pmod(
            _seeded_md5(f"split:{seed}", F.col(group_col), 15), F.lit(1 << 40)
        )
        + F.lit(0.5)
    ) / F.lit(float(1 << 40))
    return df.withColumn(
        split_col, F.when(u < test_frac, F.lit("test")).otherwise(F.lit("train"))
    )


def domain_cap(
    df: DataFrame,
    max_per_group: int,
    seed: int = 42,
    group_col: str = "host",
    id_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Per-domain document cap (the FineWeb/CCNet "no host dominates the
    corpus" pass): keep at most ``max_per_group`` docs per group (host /
    registrable domain / source), chosen deterministically by
    md5(seed:id) rank — the same replayable priority ``sample_exact_k``
    uses, so retries and reruns keep the identical docs.

    Returns the kept rows plus ``group_rank`` (1..max_per_group within
    the group, by the md5 priority).

    Scale shape: hosts are THE canonical skewed key in web corpora (one
    mega-host can hold 10^8 of 10^12 docs), so a plain
    ``Window.partitionBy(host)`` row_number — the obvious shape — puts
    that host's every row into one sort task. Two-phase instead, same
    as ``hard_negatives_topk``: phase 1 ranks inside (group, id-hash
    bucket) and keeps ``max_per_group`` per bucket (tasks bounded at
    ~n_group/B); phase 2 ranks the <= B*max_per_group survivors per
    group. Both phases shuffle only slim rows; the cap is exact (the
    true global top-N per group survives phase 1 by pigeonhole —
    dropping rank > N within any subset can never drop a global
    top-N row)."""
    pri = _seeded_md5(seed, F.col(id_col))
    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))
    w1 = Window.partitionBy(group_col, "_b").orderBy(pri.asc(), F.col(id_col))
    ph1 = (
        df.withColumn("_b", bucket)
        .withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= max_per_group)
        .drop("_b", "_r")
    )
    w2 = Window.partitionBy(group_col).orderBy(pri.asc(), F.col(id_col))
    return ph1.withColumn("group_rank", F.row_number().over(w2)).where(
        F.col("group_rank") <= max_per_group
    )


def within_doc_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """WITHIN-document duplicated-line removal (the C4 page-local
    boilerplate pass that complements corpus-level ``line_dedup``):
    every line keeps its FIRST occurrence inside the doc and later
    repeats are dropped — nav bars, repeated headers and pagination
    chrome that recur inside a single rendered page.

    Returns the input plus ``n_lines``, ``n_lines_removed`` and
    ``cleaned_text`` (byte-identical passthrough when nothing
    repeats).

    Scale shape: the whole operator is ONE map-side codegen projection —
    ``array_distinct`` preserves first-occurrence order and is
    hash-set-based (O(lines) per doc), so there is NO shuffle, NO join
    and NO window anywhere in the plan; it composes for free into any
    scan-side stage chain. (Corpus-level ``line_dedup`` needs its
    aggregate-then-join because its duplicate evidence is global; here
    the evidence is doc-local by definition.)"""
    arr = F.split(F.col(text_col), line_sep)
    dedup = F.array_distinct(arr)
    return (
        df.withColumn("n_lines", F.size(arr).cast("int"))
        .withColumn(
            "n_lines_removed", (F.size(arr) - F.size(dedup)).cast("int")
        )
        .withColumn(
            "cleaned_text",
            F.when(F.col("n_lines_removed") == 0, F.col(text_col)).otherwise(
                F.array_join(dedup, line_sep)
            ),
        )
    )


def line_dedup(
    df: DataFrame,
    min_dup: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-level duplicated-line removal (the RefinedWeb/C4
    boilerplate pass): any line occurring >= ``min_dup`` times anywhere
    in the corpus ("click here to subscribe", cookie banners, nav bars)
    is removed from EVERY document containing it — remove-all, not
    keep-first: a line that common is boilerplate, not content.

    Returns the input plus ``n_lines``, ``n_lines_removed``, and
    ``cleaned_text`` (original byte-identical when nothing was removed).

    Scale shape — the key property is that document TEXT never rides a
    shuffle and is never rebuilt by a collect_list:
    1. lines explode to (id, pos, xxhash64(line)) — 8-byte hashes, no
       strings (jaccard's convention, same collision math);
    2. the duplicated-line KEY SET comes from a codegen
       ``groupBy(lh).count()`` (map-side combined, spill-safe) and
       equi-joins back onto the occurrences — the same
       aggregate-then-join shape ``_dup_spans`` uses. The obvious
       count-over-``Window.partitionBy(lh)`` alternative is a skew bomb
       PRECISELY here: boilerplate lines are the hot keys this operator
       targets, and a cookie banner appearing in 10% of a 10^12-doc
       corpus would funnel 10^11 occurrence rows into ONE window task.
       The aggregate's combiner keeps the hot key linear and
       distributed; AQE broadcasts the key set when small and
       skew-splits the join when boilerplate makes it huge. (The line
       explode evaluates once per branch — a cheap narrow split+hash
       map emitting 12-byte rows, the same accepted trade as
       ``_dup_spans``' gram branches.)
    3. removal positions fold to one small (id, drop_pos array) row per
       AFFECTED doc only (the sort-agg fallback for collect_set runs
       over just the duplicated-line rows, not the corpus);
    4. a left join + hash-set position gather (array_except over the
       position sequence, element_at from a barrier-materialized line
       array — O(lines + dups) per doc, see the inline notes) rewrites
       affected docs in place — untouched docs keep their text without
       ever being exploded back together.
    """
    arr = F.split(F.col(text_col), line_sep)
    lines = df.select(
        F.col(id_col),
        F.posexplode(arr).alias("pos", "line"),
    ).select(id_col, "pos", F.xxhash64("line").alias("lh"))
    dup_lh = (
        lines.groupBy("lh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_dup)
        .select("lh")
    )
    dup_occ = lines.join(dup_lh, "lh")
    removals = dup_occ.groupBy(id_col).agg(
        F.collect_set("pos").alias("_drop_pos"),
        F.count(F.lit(1)).cast("int").alias("n_lines_removed"),
    )
    # O(lines + dups) rewrite: array_except builds the kept-position
    # list through a hash set (one probe per position), then an O(1)
    # element_at gather rebuilds the text from a MATERIALIZED line
    # array. Both halves are load-bearing (measured, 20k-line doc with
    # 10k corpus-duplicated lines): the old
    # F.filter(arr, (x, i) -> ~array_contains(drop_pos, i)) scans the
    # whole drop array per line — O(lines x dups), 8.3s/doc — and a
    # naive gather re-evaluates the full split per element (no CSE
    # inside HOF lambdas; 17.4s/doc). The explode(array(struct(...)))
    # barrier is a Generate node CollapseProject cannot inline across,
    # binding the split as an attribute WITHOUT the shuffle that
    # _materialized_words pays (text still never rides an exchange):
    # 0.9s/doc. array_except preserves first-array order, and positions
    # are distinct by construction, so its dedup semantics are inert.
    bar = df.select(
        F.explode(
            F.array(
                F.struct(
                    *[F.col(c) for c in df.columns], arr.alias("_line_arr")
                )
            )
        ).alias("_s")
    ).select("_s.*")
    out = bar.join(removals, id_col, "left")
    drop_pos = F.coalesce("_drop_pos", F.array().cast("array<int>"))
    marr = F.col("_line_arr")
    keep_pos = F.array_except(
        F.sequence(F.lit(0), F.size(marr) - F.lit(1)), drop_pos
    )
    cleaned = F.array_join(
        F.transform(keep_pos, lambda p: F.element_at(marr, p + F.lit(1))),
        line_sep,
    )
    return (
        out.withColumn("n_lines", F.size(marr).cast("int"))
        .withColumn(
            "n_lines_removed", F.coalesce("n_lines_removed", F.lit(0))
        )
        .withColumn(
            "cleaned_text",
            F.when(F.col("n_lines_removed") == 0, F.col(text_col)).otherwise(
                cleaned
            ),
        )
        .drop("_drop_pos", "_line_arr")
    )
