"""Dataset-scale deduplication operators over a text corpus.

All operators are pure DataFrame compositions (no Python UDFs except
SimHash's bit-mixing, which is a vectorized pandas UDF) and scale as:

* exact:      one hash-groupBy shuffle on md5(text).
* minhash LSH: explode word shingles -> per-doc K minhashes (aggregate,
  map-side combinable) -> band -> groupBy band signature -> each bucket
  explodes its own C(m,2) candidate pairs. JOIN-FREE: Spark does not
  reuse exchanges across self-join branches, so a bucket self-join would
  recompute shingles+signatures per side. Hashing uses hex-prefix-of-md5
  so DuckDB can replicate byte-for-byte (driver oracle).
* simhash:    60-bit signature per doc from hashed word features, banded
  into 15-bit quadrants for Hamming<=3 candidate buckets; the signature
  rides into the buckets so verify needs no re-join (one UDF pass).
* ngram jaccard: stop-shingle cap -> per-doc set sizes annotated as a
  column -> per-shingle pair explosion (bounded by the cap) -> one count
  aggregate -> exact Jaccard filter. Join-free when capped; classic
  self-join form kept for uncapped bounded corpora.
* embedding cosine: sign-LSH banded buckets + exact verify
  (embedding_near_dup_pairs_lsh); exact all-pairs only for small tables.

Degenerate buckets (boilerplate signatures shared by huge doc sets) are
dropped whole via max_bucket_size — run exact_dedup first so identical
docs never reach the LSH stages.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id canonical row per exact text group."""
    w = df.groupBy(F.md5(text_col).alias("text_hash")).agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(w, id_col, "left_semi")


def exact_dedup_incremental(
    df: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW crawl slice against an already-processed corpus —
    the production shape at 10^12 docs: snapshot N+1 never re-reads or
    re-hashes snapshot N, it anti-joins the stored content-hash table.

    ``seen_hashes`` is a DataFrame with one ``content_md5`` string
    column (the store). Returns ``(kept, new_hashes)``: ``kept`` is the
    batch-internal canonical rows whose hash is not in the store (plus
    a ``content_md5`` column); ``new_hashes`` is exactly the hashes of
    ``kept`` — append them to the store after the batch commits, and
    the operator is resume-safe (re-running the same batch yields the
    empty set).

    Scale shape: both the batch groupBy and the anti-join key on
    content_md5. Store the hash table BUCKETED by content_md5 (64-file
    wave-write convention, pipeline/checkpoint.py) and the anti-join
    co-locates: the store side is read bucket-aligned and never
    shuffles; only the new batch (tiny next to the corpus) moves.
    """
    hashed = df.withColumn("content_md5", F.md5(F.col(text_col)))
    canon = hashed.groupBy("content_md5").agg(F.min(id_col).alias(id_col))
    batch_canon = hashed.join(
        canon, [id_col, "content_md5"], "left_semi"
    )
    kept = batch_canon.join(
        seen_hashes.select("content_md5"), "content_md5", "left_anti"
    )
    return kept, kept.select("content_md5")


def _hash60(col: Column) -> Column:
    """First 15 hex chars of md5 as a bigint (60 bits, DuckDB-replicable:
    conv(substring(md5(x),1,15),16,10))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _seeded_md5(seed, col: Column, hex_chars: int | None = None) -> Column:
    """md5 hex of ``f"{seed}:{col}"`` — the reproducible per-row draw of
    the seeded samplers (DuckDB twin: md5('{seed}:'||id)). With
    ``hex_chars``, its first ``hex_chars`` hex chars as a bigint instead
    (8 = a u32, the uniform numerator)."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string")))
    if hex_chars is None:
        return h
    return F.conv(F.substring(h, 1, hex_chars), 16, 10).cast("bigint")


SHINGLE_N = 3  # words per shingle
MINHASH_K = 8  # minhash values per doc
MINHASH_BANDS = 4  # LSH bands over those values


def word_shingles(
    df: DataFrame,
    n: int = SHINGLE_N,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle), one row per
    OCCURRENCE — the minhash signature input. min() is duplicate-
    insensitive, so no distinct is needed, and skipping it removes a
    full shuffle of shingle strings (~20% of minhash wall time at
    sf0.1).

    The split words ride behind their own ``repartition(max(input
    partitions, defaultParallelism), id)`` exchange (the barrier
    ``_materialized_words`` explains) with a per-core width floor: the
    signature aggregate computes k md5s per shingle, a CPU multiplier
    over the words bytes that AQE's byte-based coalescing cannot see
    (measured: AQE-sizing this exchange serialized the signature stage
    onto 1-2 tasks and cost +76% on fuzzy_decontaminate at sf0.1).

    Docs with fewer than ``n`` words yield ZERO shingles (they simply
    don't appear in the output) — matching the DuckDB oracle twin, where
    ``generate_series(1, len(w)-n+1)`` is empty. The guard matters:
    ``F.sequence(0, size-n)`` steps DOWNWARD when ``size-n < 0`` (Spark
    sequence semantics), crashing on any 1-2 word doc.
    """
    sc = df.sparkSession.sparkContext
    width = max(df.rdd.getNumPartitions(), sc.defaultParallelism)
    base = df.select(F.col(id_col), _words(text_col)).repartition(width, id_col)
    return _explode_grams(base, n, id_col)


def _explode_grams(base: DataFrame, n: int, id_col: str) -> DataFrame:
    """(id, shingle): one row per n-word gram of ``base``'s ``_words``,
    the gram joined by single spaces.

    Round-7: scalar explode of the position range + per-row
    concat_ws(slice) instead of exploding a transform(sequence, lambda)
    array build — higher-order functions are CodegenFallback, so the
    lambda forced the whole gram projection into interpreted evaluation
    (same rows in the same order; see classifier._features for the
    measured 9x executor-CPU delta of the same rewrite)."""
    idx = F.when(
        F.size("_words") >= n,
        F.sequence(F.lit(0), F.size("_words") - n),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col(id_col), "_words", F.explode(idx).alias("_i")
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ", F.slice("_words", F.col("_i") + 1, n)
        ).alias("shingle"),
    )


def _words(text_col: str) -> Column:
    """``_words``: the lower-cased, trimmed text split on the explicit
    RE2 whitespace class — Java's \\s additionally matches \\x0B, which
    the DuckDB twin's RE2 \\s does not, so a vertical-tab doc would
    shingle differently on the two engines."""
    from deidentify_spark.functions.text_stats import RE2_WS_CLASS

    return F.split(F.lower(F.trim(F.col(text_col))), RE2_WS_CLASS + "+").alias(
        "_words"
    )


def _materialized_words(
    df: DataFrame,
    text_col: str,
    id_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra...], _words) with the split-words array forced into a
    BOUND ATTRIBUTE behind an exchange.

    Why the exchange is load-bearing, not an optimization knob: Spark
    performs no common-subexpression elimination inside higher-order-
    function lambdas, and CollapseProject inlines a projected expression
    into its consumers — so any ``transform(seq, i -> f(split(text),
    i))`` form re-evaluates the FULL regex split of the text per array
    element: O(n_grams x split_cost) per doc. On 50-word test docs
    that's invisible; on real ~200+-word web pages it is catastrophic
    (measured: 100k pages at k=10 could not finish in 10 minutes;
    behind the barrier the same work takes ~9s at local[32]). An
    exchange is the one boundary CollapseProject cannot cross, making
    ``_words`` a materialized attribute whose per-element access is
    O(1). The cost is one linear text-bytes shuffle — every consumer of
    shingles/grams shuffles comparable volume right after anyway.

    (A tokens-explode + window-lead construction avoids the array
    entirely but buffers a sort of every token — measured OOMing 32
    concurrent 1-GiB-heap tasks at 100k pages; the array form has no
    sort and survives.)

    Width rule: ``repartition(id)`` with NO explicit partition count,
    so AQE sizes the reduce side from the shuffled BYTES (initial
    width = shuffle.partitions, then byte-based coalescing) — scale-
    adaptive in both directions: a 250-doc train split lands on 1-2
    partitions (a ``max(input, defaultParallelism)`` floor forces >=
    one task per core, and each task of every downstream pass over the
    cached/re-read words table paid a fixed per-task cost that dwarfed
    its ~handful of rows — measured 45% of the sf0.1 logreg query),
    while a corpus-scale shuffle keeps its width from its volume,
    governed by the same shuffle.partitions/advisory-size confs every
    other exchange obeys. ``word_shingles`` keeps the floor; its
    docstring says why.
    """
    return df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], _words(text_col)
    ).repartition(id_col)


def minhash_signatures(
    shingles: DataFrame, k: int = MINHASH_K, id_col: str = "doc_id"
) -> DataFrame:
    """K minhash values per doc: min over shingles of hash60(shingle:i).

    One groupBy(id) with K min() aggregates — map-side combinable, one
    shuffle, no UDF.
    """
    aggs = [
        F.min(_hash60(F.concat(F.col("shingle"), F.lit(f":{i}")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def _emit_bucket_pairs(grouped: DataFrame, arr_col: str, fields: str) -> DataFrame:
    """C(m,2) ordered pairs from a sorted-array column, streamed — the
    join-free pair-emission idiom shared by the LSH-family operators
    (Spark does not reuse exchanges across self-join branches, so a
    bucket self-join would recompute the whole upstream per side).

    TWO-STAGE explode on purpose: posexplode the members first, then each
    member row emits only its own successors — per-row memory stays O(m)
    and pairs stream across rows. A single flatten(transform(...)) would
    materialize all m(m-1)/2 pair structs in ONE array cell, which for a
    hot bucket means a multi-GB cell / the 2^31 array-element wall
    instead of spill-friendly rows. ``fields`` references x.* and y.*
    and must produce ``doc_a``/``doc_b``; a strict doc_a < doc_b filter
    drops self-pairs when the input carries duplicate ids.

    Round-7: the successor emission is a SECOND plain explode over the
    slice, with the pair struct built by a scalar projection — the
    previous ``transform(slice(...), y -> struct(...))`` built an
    array of structs per member through the interpreted HOF evaluator
    (complex lambdas fall off whole-stage codegen; measured ~1.1 s
    single-task for the sf0.1 minhash bucket tail). Same rows, same
    memory bound (the slice copy existed before too)."""
    step = grouped.select(
        F.col(arr_col), F.posexplode(arr_col).alias("_i", "x")
    )
    return (
        step.select(
            "x",
            F.explode(
                F.expr(f"slice({arr_col}, _i + 2, size({arr_col}) - _i - 1)")
            ).alias("y"),
        )
        .select(F.expr(f"struct({fields})").alias("p"))
        .select("p.*")
        .where(F.col("doc_a") < F.col("doc_b"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    n: int = SHINGLE_N,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 512,
    observation=None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) from banded minhash signatures.

    k/bands rows per band; docs sharing any full band signature become a
    candidate pair. Pair emission is JOIN-FREE: one groupBy on
    (band, sig) collects each bucket's doc ids and streams its C(m,2)
    pairs (two-stage explode, see _emit_bucket_pairs) — the
    banded-signature table is computed ONCE (a self-join would recompute
    shingles + signatures per side; Spark does not reuse exchanges
    across branches), and no join operator appears in the plan.

    ``max_bucket_size`` (default 512) drops degenerate buckets (e.g. a
    boilerplate signature shared by 10^6 docs — run exact_dedup first so
    identical docs never reach LSH): a bucket of m docs emits m(m-1)/2
    pairs, so an uncapped hot bucket is the one place pair volume could
    blow up (collect_list itself is linear). The old 10k default let a
    single hot bucket emit 5x10^7 pairs — measured at 500k template-
    heavy synthetic docs: 9.6x10^8 candidate pairs, 485s mostly spent
    shuffling pairs through distinct(); 512 caps a bucket at ~1.3x10^5
    pairs and the same corpus mines in seconds (BASELINE.md round-4).
    Capped buckets are dropped whole, mirroring standard LSH practice;
    pass None only for bounded corpora. The registered driver query caps
    at 1000 with the identical QUALIFY filter in its DuckDB oracle.

    The dropped volume is NEVER silent: whenever the cap is active the
    plan carries a CollectMetrics (``observe``) node — computed inside
    the same action, no extra job/shuffle — recording
    (n_buckets_dropped, n_memberships_dropped, n_pairs_dropped) under
    the metric name ``minhash_lsh_cap`` for every QueryExecutionListener
    /event-log consumer. Pass an ``Observation`` as ``observation`` to
    read the numbers directly on the driver after the first action
    (pinned against the minhash_lsh_dropped_buckets audit query in
    tests); that standalone audit aggregate remains for lineage tables.

    Caveat (measured, Spark 4.1): if the WHOLE candidate output is
    empty, AQE's empty-relation propagation replaces the plan —
    CollectMetrics node included — with an EmptyRelation and the
    observed metrics are never delivered (``Observation.get`` raises).
    A globally-empty candidate set does not occur on real corpora (any
    two docs sharing a band produce a row); exact audits should use
    ``minhash_lsh_dropped_buckets`` regardless.
    """
    grouped = _minhash_buckets(df, n, k, bands, text_col, id_col)
    if max_bucket_size is not None:
        m = F.size("ds").cast("bigint")
        over = F.size("ds") > max_bucket_size
        grouped = grouped.observe(
            observation if observation is not None else "minhash_lsh_cap",
            F.sum(F.when(over, 1).otherwise(0)).alias("n_buckets_dropped"),
            F.sum(F.when(over, m).otherwise(0)).alias("n_memberships_dropped"),
            F.sum(F.when(over, (m * (m - 1) / 2).cast("bigint")).otherwise(0)).alias(
                "n_pairs_dropped"
            ),
        )
        grouped = grouped.where(F.size("ds") <= max_bucket_size)
    return _emit_bucket_pairs(grouped, "ds", "x as doc_a, y as doc_b").distinct()


def _minhash_buckets(
    df: DataFrame,
    n: int,
    k: int,
    bands: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(band, sig, ds) bucket table shared by the candidate emitter and
    the cap-lineage aggregate — ds is the sorted member-id array."""
    banded = _minhash_band_membership(df, n, k, bands, text_col, id_col)
    return banded.groupBy("band", "sig").agg(
        F.sort_array(F.collect_list(id_col)).alias("ds")
    )


def _minhash_band_membership(
    df: DataFrame,
    n: int,
    k: int,
    bands: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, band, sig) band-signature membership — the per-doc form the
    bucket table groups, and the STORED form for incremental runs (a
    signature depends only on its own document, so memberships computed
    per snapshot union into exactly the full-corpus membership)."""
    rows = k // bands
    sigs = minhash_signatures(word_shingles(df, n, text_col, id_col), k, id_col)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *parts).alias("sig"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def minhash_lsh_candidates_incremental(
    new_df: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 512,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup candidates for a NEW crawl batch against itself AND the
    already-processed corpus — the snapshot-N+1 shape: prior snapshots
    persist their (doc_id, band, sig) band membership
    (_minhash_band_membership) instead of being re-shingled, and only
    pairs involving a new document are emitted (old-old pairs were
    mined in prior runs).

    Returns ``(candidates, new_membership)``: append ``new_membership``
    to the store after the batch commits and the operator is
    resume-safe. Within-batch pairs use the join-free bucket chain
    (identical to minhash_lsh_candidates); cross-snapshot pairs
    equi-join the batch's memberships against the store on (band, sig)
    — store the membership table BUCKETED by (band, sig) and that join
    co-locates, so a 10^12-doc store never shuffles for a small batch.

    ``max_bucket_size`` guards both sides: within-batch buckets over
    the cap drop whole (same as the one-shot operator), and store
    signatures whose membership exceeds the cap are anti-joined out
    before the cross join (the degenerate-boilerplate signature that
    would pair every new doc with millions of old ones). Union of
    per-snapshot memberships == full-corpus membership (signatures are
    per-doc), so incremental candidates == the one-shot operator's
    pairs restricted to >=1 new id, pinned by test.

    The default cap matches ``minhash_lsh_candidates`` (512, the
    measured-at-500k-docs default — see that docstring), and the
    within-batch drop volume rides the same CollectMetrics posture:
    a ``minhash_lsh_incremental_cap`` observe node — never silent.
    Store-side hot signatures are additionally counted under
    ``minhash_lsh_incremental_store_hot``.
    """
    mem_new = _minhash_band_membership(
        new_df, SHINGLE_N, MINHASH_K, MINHASH_BANDS, text_col, id_col
    )

    within_buckets = mem_new.groupBy("band", "sig").agg(
        F.sort_array(F.collect_list(id_col)).alias("ds")
    )
    m = F.size("ds").cast("bigint")
    over = F.size("ds") > max_bucket_size
    within_buckets = within_buckets.observe(
        "minhash_lsh_incremental_cap",
        F.sum(F.when(over, 1).otherwise(0)).alias("n_buckets_dropped"),
        F.sum(F.when(over, m).otherwise(0)).alias("n_memberships_dropped"),
        F.sum(F.when(over, (m * (m - 1) / 2).cast("bigint")).otherwise(0)).alias(
            "n_pairs_dropped"
        ),
    )
    within = _emit_bucket_pairs(
        within_buckets.where(F.size("ds") <= max_bucket_size),
        "ds",
        "x as doc_a, y as doc_b",
    )

    store_mem = store.select(id_col, "band", "sig")
    hot = (
        store_mem.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("_m"))
        .where(F.col("_m") > max_bucket_size)
        .select("band", "sig")
    ).observe(
        "minhash_lsh_incremental_store_hot",
        F.count(F.lit(1)).alias("n_store_hot_signatures"),
    )
    safe_store = store_mem.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    nm = mem_new.select(
        F.col(id_col).alias("_nid"), "band", "sig"
    )
    cross = (
        nm.join(safe_store, ["band", "sig"])
        .select(
            F.least(F.col("_nid"), F.col(id_col)).alias("doc_a"),
            F.greatest(F.col("_nid"), F.col(id_col)).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    return within.unionByName(cross).distinct(), mem_new


def minhash_lsh_dropped_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 10000,
) -> DataFrame:
    """Cap-lineage twin of minhash_lsh_candidates: what did the
    max_bucket_size guard silently discard? One row:
    (n_buckets_dropped, n_memberships_dropped, n_pairs_dropped) — the
    second aggregate over the >cap groups a 100-TB operator needs to see
    (no silent truncation). Same upstream as the candidate emitter; at
    scale run both off one cached/checkpointed bucket table.
    """
    dropped = _minhash_buckets(
        df, SHINGLE_N, MINHASH_K, MINHASH_BANDS, text_col, id_col
    ).where(F.size("ds") > max_bucket_size)
    m = F.size("ds").cast("bigint")
    return dropped.agg(
        F.count(F.lit(1)).alias("n_buckets_dropped"),
        F.coalesce(F.sum(m), F.lit(0)).alias("n_memberships_dropped"),
        F.coalesce(F.sum(m * (m - 1) / 2), F.lit(0.0))
        .cast("bigint")
        .alias("n_pairs_dropped"),
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    prefix_len: int = 500,
    min_sim: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact edit-similarity VERIFICATION of near-dup candidate pairs —
    the confirm stage that closes the probabilistic dedup loop (LSH
    emits candidates with false positives by design; production dedup
    passes — Gopher/MassiveText verify with an exact string metric
    before dropping documents).

    For each candidate (doc_a, doc_b), computes Levenshtein distance on
    the first ``prefix_len`` characters of each document (the standard
    bounded surrogate: edit distance is O(len^2) per pair, so the full
    text of two 1 MB docs is never compared — a shared 500-char prefix
    at >=0.8 similarity is decisive for boilerplate/near-dup text) and
    keeps pairs with ``edit_sim = 1 - dist/max(len_a, len_b)`` >=
    ``min_sim``. Two identical empty prefixes count as similarity 1.

    Scale shape: document text NEVER rides the pair shuffle — only the
    byte-capped prefix (<= prefix_len chars/doc) joins onto the pair
    table, via a slim (id, prefix) projection shuffled ONCE per side.
    Both joins are plain equi-joins (AQE broadcasts the pair side when
    the candidate set is small, skew-splits otherwise), and the
    Levenshtein itself is a JVM codegen expression — no Python in the
    plan. Pair volume is whatever the upstream cap admitted
    (minhash_lsh_candidates' max_bucket_size), so the quadratic unit
    cost is bounded at prefix_len^2 per ADMITTED pair, never per
    corpus-pair.

    Per-pair cost is further cut when ``min_sim > 0`` (the production
    setting — 20k templated pages emit 1.6M LSH candidates, so the
    constant factor IS the stage cost):

    * length pre-gate: ``dist >= |len_a - len_b|`` always, so a pair
      whose length gap alone already puts ``1 - gap/max_len`` below
      ``min_sim`` is rejected by an O(1) CASE branch — the Levenshtein
      expression is never evaluated (codegen short-circuits WHEN arms);
    * banded Levenshtein: surviving pairs use Spark's thresholded
      ``levenshtein(a, b, t)`` with ``t = floor((1-min_sim) *
      prefix_len)`` — any true distance above the largest possibly-
      acceptable one returns -1 in O(len * t) instead of O(len^2)
      (at min_sim=0.8 that's a 5x band). Kept rows always carry the
      EXACT distance (dist <= t is returned exactly), so the emitted
      ``edit_sim`` values — and the DuckDB oracle twin, which runs the
      unbanded form — are unchanged.
    """
    slim = df.select(
        F.col(id_col),
        F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, prefix_len).alias(
            "_pfx"
        ),
    )
    a = slim.select(F.col(id_col).alias("doc_a"), F.col("_pfx").alias("_pa"))
    b = slim.select(F.col(id_col).alias("doc_b"), F.col("_pfx").alias("_pb"))
    # Lazy lineage cut on the candidate set (bounded by the upstream
    # bucket cap, stays distributed): when AQE broadcasts the pair side
    # of BOTH prefix joins — the right call at corpus scale, where the
    # (id, prefix) table is O(n_docs) and the pairs are capped — each
    # broadcast build would otherwise re-evaluate the entire candidate
    # chain (measured: 2 x ~1.1 s of the minhash tail at sf0.1).
    pairs = pairs.localCheckpoint(eager=False)
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    len_a, len_b = F.length("_pa"), F.length("_pb")
    max_len = F.greatest(len_a, len_b)
    len_gap = F.abs(len_a - len_b)
    if min_sim > 0.0:
        # Largest distance any row could accept: allowed = (1-min_sim) *
        # max_len <= (1-min_sim) * prefix_len. Distances above the band
        # return -1 => provably below min_sim => reject.
        # +1 / -1e-4 slack: the emitted sim is ROUNDED to 4 places before
        # the >= min_sim filter, so a true sim up to 5e-5 below min_sim
        # can round up into the kept set — both prune bounds leave room
        # for it rather than racing the rounding boundary.
        band = int((1.0 - min_sim + 1e-4) * prefix_len) + 1
        dist = F.levenshtein("_pa", "_pb", band)
        sim = (
            F.when(max_len == 0, F.lit(1.0))
            # length gap alone caps sim below min_sim: reject w/o edit dist
            .when(1.0 - len_gap / max_len < min_sim - 1e-4, F.lit(-1.0))
            .otherwise(
                F.when(dist < 0, F.lit(-1.0)).otherwise(1.0 - dist / max_len)
            )
        )
    else:
        sim = F.when(max_len == 0, F.lit(1.0)).otherwise(
            1.0 - F.levenshtein("_pa", "_pb") / max_len
        )
    return (
        joined.withColumn("edit_sim", F.round(sim, 4))
        .where(F.col("edit_sim") >= min_sim)
        .select("doc_a", "doc_b", "edit_sim")
    )


def verify_oracle_sql(
    pairs_sql: str,
    table: str = "documents",
    prefix_len: int = 500,
    min_sim: float = 0.8,
) -> str:
    """DuckDB twin of verify_candidate_pairs: wraps a candidate-pair
    CTE body (must yield doc_a, doc_b) with the identical prefix
    Levenshtein similarity filter."""
    return f"""
        WITH cand AS ({pairs_sql}),
        pfx AS (
            SELECT doc_id, substr(coalesce(text, ''), 1, {prefix_len}) AS p
            FROM {table}
        ), sim AS (
            SELECT c.doc_a, c.doc_b,
                   CASE WHEN greatest(length(a.p), length(b.p)) = 0 THEN 1.0
                        ELSE ROUND(1.0 - levenshtein(a.p, b.p)
                                   / greatest(length(a.p), length(b.p)), 4)
                   END AS edit_sim
            FROM cand c
            JOIN pfx a ON c.doc_a = a.doc_id
            JOIN pfx b ON c.doc_b = b.doc_id
        )
        SELECT doc_a, doc_b, edit_sim FROM sim
        WHERE edit_sim >= {min_sim}
        ORDER BY doc_a, doc_b
    """


def _distinct_shingle_hashes(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, shingle) with shingle = xxhash64 of the n-word gram, one row
    per DISTINCT (doc, gram) — the shared input of the Jaccard family.

    The grams are the scalar explode of ``_explode_grams``, hashed per
    row. The distinct needs no exchange of its own: ``(id, shingle)`` is
    clustered by the ``repartition(id)`` behind ``_materialized_words``.
    Measured against the map-side ``array_distinct(transform(...))``
    array build it replaced (sf0.1 documents, 5,000 docs, local[2],
    process-tree CPU, medians of 3 alternating runs): this stage alone
    1.76 -> 1.51 s, ``ngram_jaccard_pairs`` 6.90 -> 6.75 s over 6 runs,
    same rows and the same five exchanges.
    """
    base = _materialized_words(df, text_col, id_col)
    grams = _explode_grams(base, n, id_col)
    return grams.select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    ).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 100,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle equi-join (no cross join).

    jaccard(a,b) = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct word
    n-gram shingles.

    ``max_doc_freq`` is the scale guard: shingles appearing in more than
    that many documents ("stop-shingles" — 'of the and' at CC scale) are
    dropped from BOTH the join and the per-doc set sizes before pairing,
    so no shingle group ever exceeds max_doc_freq docs and the self-join
    is bounded at O(n_shingles * max_doc_freq^2 / 2) instead of quadratic
    in the hottest group. Near-dup pairs lose almost no signal: a shingle
    shared by thousands of docs carries ~zero Jaccard information anyway.
    The cap is mandatory on this surface; the classic uncapped textbook
    self-join (a scale-killer on the open web) lives in
    ``_ngram_jaccard_pairs_textbook`` as test-oracle material only — the
    same demotion the cartesian embedding form got.

    The plan is a JOIN-FREE linear chain (each stage consumed
    exactly once — Spark does not reuse exchanges across self-join
    branches, so the join formulation recomputes the shingle table 4x):
    shingles -> doc-frequency cap -> per-doc set size annotation (rides
    along as a column; no sizes join later) -> groupBy(shingle) collects
    the <=K member docs -> C(m,2) pairs exploded per shingle (bounded by
    the cap) -> one (doc_a, doc_b) count aggregate. ~1/4 the shuffled
    bytes of the join form; identical results (pinned by test).

    The cap's doc frequency is a count() over a shingle-partitioned
    window — a pathological hot shingle concentrates on one task but the
    work stays LINEAR (buffer+count+filter), never quadratic.
    """
    from pyspark.sql.window import Window

    # Shingle IDENTITY rides as xxhash64(shingle), not the string: the
    # distinct, the doc-frequency window, and the pair-emission
    # groupBy all shuffle 8-byte longs instead of ~n-word strings (the
    # strings appear in no output column). A 64-bit collision would merge
    # two shingles' doc lists — p ≈ s^2/2^65 (~3e-9 at 10^9 distinct
    # shingles), negligible next to minhash's own banding error; the
    # DuckDB oracle twin keeps grouping by the exact string, and stays
    # green because no collision occurs at test scale (or realistically
    # any scale).
    sh = _distinct_shingle_hashes(df, n, text_col, id_col)
    w = Window.partitionBy("shingle")
    sh = (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .where(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )
    # join-free pair generation: set sizes ride along, each shingle
    # group (<= max_doc_freq docs) streams its C(m,2) pairs
    sh = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct(id_col, "n_sh"))).alias("ds")
    )
    pairs = _emit_bucket_pairs(
        grouped,
        "ds",
        f"x.{id_col} as doc_a, y.{id_col} as doc_b, "
        "x.n_sh as n_a, y.n_sh as n_b",
    )
    common = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ngram_jaccard_pairs_textbook(
    df: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TEST-ORACLE ONLY — the classic uncapped textbook Jaccard via
    shingle self-join. Unbounded in the hottest shingle group
    (quadratic blow-up on open-web stop-shingles), so it must never be
    registered as a driver query or used on a materialized 100-TB run;
    tests use it as ground truth for the capped operator, the same role
    the cartesian form plays for the blocked-GEMM embedding dedup."""
    sh = _distinct_shingle_hashes(df, n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_dropped_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 100,
) -> DataFrame:
    """Cap-lineage twin of ngram_jaccard_pairs: what did the
    max_doc_freq stop-shingle guard discard? One row:
    (n_shingles_dropped, n_memberships_dropped) over the >cap shingles —
    surfaced so a 100-TB run can audit the guard instead of silently
    losing signal. Distinct (doc, shingle) memberships, same identity
    (xxhash64) and whitespace semantics as the pair miner."""
    sh = _distinct_shingle_hashes(df, SHINGLE_N, text_col, id_col)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_doc_freq)
    )
    d = F.col("_df").cast("bigint")
    return hot.agg(
        F.count(F.lit(1)).alias("n_shingles_dropped"),
        F.coalesce(F.sum(d), F.lit(0)).alias("n_memberships_dropped"),
        F.coalesce(F.sum(d * (d - 1) / 2), F.lit(0.0))
        .cast("bigint")
        .alias("n_pairs_dropped"),
    )


# SimHash geometry: 60-bit signatures (word hash = first 15 hex chars of
# md5, so DuckDB can replicate the whole operator for the driver oracle),
# banded into 4 quadrants of 15 bits — Hamming<=3 pairs are guaranteed to
# share a quadrant (pigeonhole).
SIMHASH_BITS = 60
SIMHASH_QUADS = 4
SIMHASH_MAX_BUCKET_SIZE = 10000  # a larger quadrant bucket drops whole
_QUAD_BITS = SIMHASH_BITS // SIMHASH_QUADS  # 15
_QUAD_MASK = (1 << _QUAD_BITS) - 1


def simhash_py(text: str) -> int:
    """60-bit SimHash over whitespace words (pure function; the UDF body
    and the tests share it). Tokenization is re2_words — byte-identical
    to the DuckDB oracle twin's regexp_split_to_array(lower(trim(text)),
    '\\s+') including empty tokens at tab/newline edges (str.split()
    silently diverged there)."""
    import hashlib

    from deidentify_spark.functions.text_stats import re2_words

    words = re2_words(text)
    if not words:
        return 0
    hs = np.array(
        [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words],
        dtype=np.uint64,
    )
    sig = 0
    n = len(hs)
    for shift in range(SIMHASH_BITS):
        ones = int(((hs >> np.uint64(shift)) & np.uint64(1)).sum())
        if 2 * ones - n > 0:
            sig |= 1 << shift
    return sig


def simhash_batch(texts: list[str]) -> np.ndarray:
    """Batch SimHash, vectorized (byte-parity with simhash_py, pinned by
    tests/test_operators.py::test_simhash_batch_parity).

    Two wins over a per-doc loop:
    * md5 runs once per UNIQUE word in the whole Arrow batch (factorize)
      — Zipf word distributions make the unique set a small fraction of
      the token stream;
    * the 60-way per-bit majority runs as a dense (docs x uniques)
      count-matrix BLAS matmul against the (uniques x 60) bit matrix when
      the vocabulary is small, else as 60 ``np.bincount`` segment sums —
      both measured ~25-400x faster than a words x 60 cumsum slab or
      ``np.add.reduceat`` on this box.
    """
    import hashlib

    from deidentify_spark.functions.text_stats import re2_words

    docs = [re2_words(t) for t in texts]
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    if len(texts) == 0 or int(lens.sum()) == 0:
        return np.zeros(len(texts), dtype=np.int64)
    flat = np.empty(int(lens.sum()), dtype=object)
    pos = 0
    for d in docs:
        flat[pos : pos + len(d)] = d
        pos += len(d)
    codes, uniques = pd.factorize(flat)
    uh = np.fromiter(
        (int(hashlib.md5(u.encode()).hexdigest()[:15], 16) for u in uniques),
        dtype=np.uint64,
        count=len(uniques),
    )
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    ubits = ((uh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.float64)
    n_docs, n_uniq = len(texts), len(uniques)
    doc_idx = np.repeat(np.arange(n_docs), lens)
    if n_docs * n_uniq <= (1 << 25):  # dense counts fit (<=256 MB f64)
        counts = np.zeros((n_docs, n_uniq))
        np.add.at(counts, (doc_idx, codes), 1.0)
        ones = counts @ ubits
    else:
        ones = np.empty((n_docs, SIMHASH_BITS))
        for b in range(SIMHASH_BITS):
            ones[:, b] = np.bincount(
                doc_idx, weights=ubits[codes, b], minlength=n_docs
            )
    maj = (2 * ones.astype(np.int64) - lens[:, None]) > 0
    return (maj.astype(np.uint64) << shifts[None, :]).sum(
        axis=1, dtype=np.uint64
    ).astype(np.int64)


def simhash_udf():
    """Vectorized 60-bit SimHash over whitespace words (md5-hex word
    hashing — replicable in ANSI SQL / DuckDB, see SIMHASH_ORACLE_SQL)."""

    @F.pandas_udf(LongType())
    def simhash(text: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(text.fillna("").tolist()))

    return simhash


def simhash_oracle_sql(
    table: str = "documents",
    max_hamming: int | None = 3,
    max_bucket_size: int | None = None,
) -> str:
    """Generate the DuckDB SQL that replicates simhash_near_dups (or, with
    max_hamming=None, simhash_candidates) byte-for-byte: md5-hex word
    hashes -> per-bit majority -> 60-bit signature -> quadrant buckets ->
    (optional bucket-size cap) -> (optional) bit_count Hamming filter."""
    bit_sums = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    quads = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, {q} AS quad, (sig >> {q * _QUAD_BITS}) & {_QUAD_MASK} AS val FROM sigs"
        for q in range(SIMHASH_QUADS)
    )
    ham_select = (
        f", bit_count(xor(sa.sig, sb.sig)) AS hamming" if max_hamming is not None else ""
    )
    ham_where = (
        f"WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}"
        if max_hamming is not None
        else ""
    )
    return f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
                FROM {table}
            ), hashes AS (
                SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT AS h FROM words
            ), bitsums AS (
                SELECT doc_id,
                   {bit_sums}
                FROM hashes GROUP BY doc_id
            ), sigs AS (
                SELECT doc_id, {sig_terms} AS sig FROM bitsums
            ), quads_all AS (
                {quads}
            ), quads AS (
                SELECT doc_id, quad, val,
                       COUNT(*) OVER (PARTITION BY quad, val) AS bsz
                FROM quads_all
                {"QUALIFY bsz <= " + str(max_bucket_size) if max_bucket_size is not None else ""}
            ), cands AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM quads a JOIN quads b
                  ON a.quad = b.quad AND a.val = b.val AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b{ham_select}
            FROM cands
            JOIN sigs sa ON sa.doc_id = doc_a
            JOIN sigs sb ON sb.doc_id = doc_b
            {ham_where}
            ORDER BY doc_a, doc_b
    """


def _simhash_quad_groups(
    df: DataFrame, text_col: str, id_col: str, max_bucket_size: int | None
) -> DataFrame:
    """(quad, val) buckets with the sorted (doc_id, sig) members — the
    shared first half of the simhash operators. The signature UDF is
    evaluated ONCE; the quadrant table is grouped, never self-joined.

    Deliberately NO repartition before the signature UDF, unlike the
    shingle chains' materialization barrier: the batch signature UDF is
    vectorized (one factorize + BLAS pass per Arrow batch) and costs
    far less per doc than a shingle explode, so at test scale an extra
    repartition + stage costs more than the parallelism buys (measured
    1.79s vs 1.23s at sf0.1). At corpus scale the scan itself supplies
    thousands of partitions."""
    sig = df.select(
        F.col(id_col), simhash_udf()(F.col(text_col)).alias("sig")
    )
    quads = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("quad"),
                        F.shiftright("sig", q * _QUAD_BITS)
                        .bitwiseAND(F.lit(_QUAD_MASK))
                        .alias("val"),
                    )
                    for q in range(SIMHASH_QUADS)
                ]
            )
        ).alias("qv"),
    ).select(id_col, "sig", "qv.quad", "qv.val")
    grouped = quads.groupBy("quad", "val").agg(
        F.sort_array(F.collect_list(F.struct(id_col, "sig"))).alias("ds")
    )
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("ds") <= max_bucket_size)
    return grouped


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = SIMHASH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Verified SimHash near-dups: candidate pairs from quadrant buckets,
    then an exact Hamming-distance filter via bit_count(xor) — all
    JVM-side after one signature-UDF pass. Complete for Hamming <= 3 by
    the pigeonhole guarantee (when no bucket cap is set).

    JOIN-FREE chain: signatures ride into the quadrant buckets as struct
    fields, each bucket explodes its C(m,2) pairs carrying both
    signatures, so the Hamming verify needs no signature re-join (the
    join form evaluated the UDF up to 4x — Spark does not reuse exchanges
    across self-join branches). ``max_bucket_size`` guards degenerate
    buckets as in minhash_lsh_candidates."""
    grouped = _simhash_quad_groups(df, text_col, id_col, max_bucket_size)
    pairs = _emit_bucket_pairs(
        grouped,
        "ds",
        f"x.{id_col} as doc_a, y.{id_col} as doc_b, "
        "x.sig as sig_a, y.sig as sig_b",
    ).distinct()
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidates: equal 15-bit SimHash quadrant (Hamming<=3 docs
    must share at least one of 4 quadrants — pigeonhole). Join-free, one
    UDF pass (see simhash_near_dups)."""
    grouped = _simhash_quad_groups(df, text_col, id_col, SIMHASH_MAX_BUCKET_SIZE)
    return _emit_bucket_pairs(
        grouped, "ds", f"x.{id_col} as doc_a, y.{id_col} as doc_b"
    ).distinct()


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    n_planes: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine-similar pairs at scale: sign-LSH candidate blocking, then
    exact cosine verify inside buckets — the 10^9-vector twin of
    embedding_near_dup_pairs (whose a.id < b.id join is a cartesian).

    Plan shape: one narrow pandas-UDF map computes ``bands`` bucket ids
    per vector (deterministic hyperplanes, operators/similarity.py); the
    ONLY join is the bucket-local equi-join on band id over a (id, bid)
    table — vectors are re-attached to the distinct candidate pairs by
    two id equi-joins before the exact-cosine filter, so the wide
    embedding column never rides through the candidate explosion.

    Recall is tunable via (n_planes, bands): with 8 bands of 8 bits a
    cos>=0.9 pair collides in >=1 band w.p. ~0.94 while a random pair
    survives in ~3% of buckets (p_bit = 1 - acos(cos)/pi). Verified
    against the exact operator in tests/test_operators.py.
    """
    from deidentify_spark.operators.similarity import lsh_band_udf

    if dim is None:
        first = emb.select(vec_col).head()
        if first is None:  # empty input -> empty result, not a TypeError
            return emb.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).where(F.lit(False))
        dim = len(first[0])
    banded = emb.select(
        F.col(id_col),
        F.explode(lsh_band_udf(dim, n_planes, bands)(F.col(vec_col))).alias(
            "_bid"
        ),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l._bid") == F.col("r._bid"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    base = emb.select(F.col(id_col), v.alias("v"), norm.alias("nrm"))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine-similar pairs (a<b). Intended for small/blocked
    inputs; at scale use embedding_near_dup_pairs_lsh (this one's
    a.id < b.id join is a cartesian — fine at sf0.01, fatal at 10^9
    vectors)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    base = emb.select(
        F.col(id_col), v.alias("v"), norm.alias("nrm")
    )
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    raw = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            raw.alias("_raw"),
        )
        # threshold on the RAW cosine (matches the DuckDB oracle's WHERE
        # before its SELECT-list ROUND), then round for display
        .where(F.col("_raw") >= threshold)
        .select("id_a", "id_b", F.round("_raw", 4).alias("cosine"))
    )


def embedding_near_dup_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 2048,
    n_blocks: int | None = None,
) -> DataFrame:
    """EXACT cosine pairs (id_a < id_b) via a blocked-GEMM grid — the
    distributed form of the textbook all-pairs join.

    Exact threshold similarity join is inherently O(n^2) dot products;
    what a plan can control is HOW those products are computed and
    placed. The textbook ``a.join(b, a.id < b.id)`` is a
    BroadcastNestedLoopJoin: one row-at-a-time quadratic task stream
    with per-pair expression evaluation. This operator instead:

    * assigns each vector to one of B hash blocks
      (pmod(xxhash64(id), B)), B ≈ ceil(n / rows_per_block);
    * explodes each vector to its B block-PAIR memberships
      (min(blk,other), max(blk,other)) — every unordered vector pair
      lands in exactly one of the B(B+1)/2 grid cells;
    * one shuffle on the grid key, then ONE vectorized numpy gemm per
      cell (normalize once, S = X @ Y.T in float64, emit S >= threshold).

    Plan: Scan -> Project(explode) -> Exchange(grid key) ->
    FlatMapGroupsInPandas. No CartesianProduct / BroadcastNestedLoopJoin
    node (pinned in tests/test_plans.py). Work per cell is uniform
    (~rows_per_block^2 products, BLAS-batched); memory per task is two
    blocks of vectors. Shuffle volume is n*B vector copies — the
    standard replication cost of a similarity-join grid; it is the
    EXACT operator's scale ceiling (~10^7 vectors is a big-but-runnable
    cluster job at 10^14 products), beyond which the sign-LSH twin
    (embedding_near_dup_pairs_lsh) is the product path.

    Emits the same columns/semantics as embedding_near_dup_pairs:
    threshold on raw float64 cosine, cosine rounded to 4dp.
    """
    import math

    if n_blocks is None:
        # one eager columnar count (metadata-only on parquet sources);
        # pass n_blocks explicitly to skip it on expensive upstreams
        n_rows = emb.count()
        n_blocks = max(1, math.ceil(n_rows / rows_per_block))
    B = n_blocks
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
    )
    mem = base.select(
        "_id",
        "_v",
        "_blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("_other"),
    ).select(
        "_id",
        "_v",
        "_blk",
        F.least("_blk", "_other").alias("_bi"),
        F.greatest("_blk", "_other").alias("_bj"),
    )

    thr = float(threshold)

    def gemm_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )
        if pdf.empty:
            return empty
        bi, bj = int(pdf["_bi"].iloc[0]), int(pdf["_bj"].iloc[0])
        mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        zero = nrm == 0.0
        nrm[zero] = 1.0
        mat /= nrm[:, None]
        # zero vector: cosine undefined -> NaN, never passes >= thr
        # (matches the textbook form, where 0/0 is SQL NULL)
        mat[zero] = np.nan
        ids = pdf["_id"].to_numpy()
        if bi == bj:  # diagonal cell: pairs within one block
            sim = mat @ mat.T
            ia, ib = np.nonzero(np.triu(sim >= thr, k=1))
        else:
            xm = pdf["_blk"].to_numpy() == bi
            x_ids, y_ids = ids[xm], ids[~xm]
            if len(x_ids) == 0 or len(y_ids) == 0:
                return empty
            sim = mat[xm] @ mat[~xm].T
            ia, ib = np.nonzero(sim >= thr)
            ids = None
        if bi == bj:
            a, b = ids[ia], ids[ib]
        else:
            a, b = x_ids[ia], y_ids[ib]
        cos = sim[ia, ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    out = mem.groupBy("_bi", "_bj").applyInPandas(
        gemm_cell, schema=f"id_a long, id_b long, cosine double"
    )
    return out.where(F.col("id_a") != F.col("id_b")).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


SEMDEDUP_TARGET_CLUSTER_SIZE = 5_000  # vectors a cluster, when auto-sized


def _semantic_clusters(
    emb: DataFrame,
    n_clusters: "int | None",
    id_col: str,
    vec_col: str,
    centroids: "np.ndarray | None",
    target_cluster_size: int,
) -> DataFrame:
    """Shared SemDeDup cluster assignment: (id, vec, cluster) via the
    deterministic data-sampled IVF quantizer (operators/similarity.py).

    ``n_clusters=None`` auto-sizes C = ceil(n / target_cluster_size),
    the same corpus-scaled sizing ``embedding_near_dup_pairs_blocked``
    uses for its grid — so the per-cluster O(m^2) GEMM stays bounded as
    n grows instead of degrading toward all-pairs with a fixed C (at
    10^9 vectors and target 5k, C ≈ 200k centroids; the centroid matrix
    is still only ~100 MB at dim=128, broadcastable). The extra
    ``emb.count()`` is one columnar pass, identical to the blocked-GEMM
    convention."""
    import math

    from deidentify_spark.operators.similarity import ivf_assign_udf, ivf_centroids

    if n_clusters is None:
        n_rows = emb.count()
        n_clusters = max(1, math.ceil(n_rows / target_cluster_size))
    c = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_clusters, id_col, vec_col)
    )
    assign = ivf_assign_udf(c)
    return emb.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cluster")
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_clusters: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): coarse-cluster the embeddings, then mine EXACT
    cosine near-dup pairs only within each cluster — total work drops
    from O(n^2) to ~O(n^2 / n_clusters) and each cluster's GEMM is one
    local numpy call inside applyInPandas. Cross-cluster pairs are
    missed by construction (the method's stated approximation; clones
    sit in the same cluster because assignment is cosine-based).
    ``n_clusters=None`` (default) auto-sizes to the corpus
    (ceil(n / SEMDEDUP_TARGET_CLUSTER_SIZE), see _semantic_clusters); pass an
    explicit value for golden-stable small-scale runs.

    Clustering reuses the deterministic data-sampled IVF quantizer
    (operators/similarity.py — no Lloyd iterations, so the whole
    operator is a pure function of the data and golden-oracle-able).
    ``max_cluster_size`` guards the per-cluster O(m^2): oversized
    clusters (a degenerate centroid attracting everything) are dropped
    whole, mirroring the LSH bucket caps, and the drop happens BEFORE
    the applyInPandas — per-cluster counts come from a codegen
    aggregate and only in-cap clusters semi-join back in (broadcast: the
    size table is O(C) rows), so a runaway cluster is never materialized
    as one Arrow/pandas frame in a single task. Audit the dropped
    volume via `semantic_dedup_dropped_clusters`.
    Returns (cluster, id_a, id_b, cosine) with id_a < id_b.
    """
    with_c = _semantic_clusters(
        emb, n_clusters, id_col, vec_col, None, SEMDEDUP_TARGET_CLUSTER_SIZE
    )
    ok = (
        with_c.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("_m"))
        .where((F.col("_m") >= 2) & (F.col("_m") <= max_cluster_size))
        .select("cluster")
    )
    with_c = with_c.join(F.broadcast(ok), "cluster")

    out_schema = (
        "cluster int, id_a long, id_b long, cosine double"
    )

    def mine(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        # singleton/oversized clusters are filtered upstream by the
        # size pre-aggregate; this guard is defensive only
        if m < 2:
            return pd.DataFrame(
                {"cluster": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cluster": "int32", "id_a": "int64", "id_b": "int64",
                      "cosine": "float64"})
        mat = np.stack(pdf[vec_col].map(
            lambda v: np.asarray(v, dtype=np.float32)
        ).to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        sims = mat @ mat.T
        iu = np.triu_indices(m, 1)
        keep = sims[iu] >= threshold
        ids = pdf[id_col].to_numpy()
        a = ids[iu[0][keep]]
        b = ids[iu[1][keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "cluster": np.full(lo.shape, int(pdf["cluster"].iloc[0]),
                                   dtype="int32"),
                "id_a": lo.astype("int64"),
                "id_b": hi.astype("int64"),
                # float64 rounding AFTER float32 cosine, matching the
                # blocked-GEMM operator's convention
                "cosine": np.round(sims[iu][keep].astype("float64"), 4),
            }
        )

    return with_c.groupBy("cluster").applyInPandas(mine, out_schema)


def semantic_dedup_dropped_clusters(
    emb: DataFrame,
    n_clusters: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """Cap-lineage twin of semantic_dedup_pairs: what did the
    max_cluster_size guard discard? One row: (n_clusters_dropped,
    n_memberships_dropped, n_pairs_dropped) — the audit aggregate over
    the >cap clusters, mirroring minhash_lsh_dropped_buckets, so the
    semantic cap is never a silent truncation. Same assignment as the
    pair miner (pass the same n_clusters); at scale run both off one
    stored cluster-assignment column."""
    with_c = _semantic_clusters(
        emb, n_clusters, id_col, vec_col, None, SEMDEDUP_TARGET_CLUSTER_SIZE
    )
    m = F.count(F.lit(1)).cast("bigint").alias("m")
    dropped = (
        with_c.groupBy("cluster").agg(m).where(F.col("m") > max_cluster_size)
    )
    mm = F.col("m")
    return dropped.agg(
        F.count(F.lit(1)).alias("n_clusters_dropped"),
        F.coalesce(F.sum(mm), F.lit(0)).alias("n_memberships_dropped"),
        F.coalesce(F.sum(mm * (mm - 1) / 2), F.lit(0.0))
        .cast("bigint")
        .alias("n_pairs_dropped"),
    )
