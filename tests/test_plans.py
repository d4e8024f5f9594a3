"""Physical-plan regression tests: the optimizations the engine relies on
at 100 TB must be visible in the executed plan, not assumed."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _plan(entry_mod.queries()["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the scan must not read join keys it doesn't need
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q5_broadcasts_all_dimensions(spark):
    plan = _plan(entry_mod.queries()["q5_supplier_volume_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_pipeline_never_reads_html(spark, tmp_path):
    from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline
    from deidentify_spark.sources.pages import PAGE_COLUMNS, generate_pages

    path = str(tmp_path / "pages")
    generate_pages(spark, 50, seed=3, partitions=2).select(*PAGE_COLUMNS).write.parquet(path)
    out = run_pipeline(spark.read.parquet(path), PipelineConfig(secret_key="k"))
    plan = _plan(out)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, read_schema
    # exactly one python stage in the whole pipeline
    assert plan.count("ArrowEvalPython") == 1


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing co-locates the join: with both sides bucketed on the key,
    the sort-merge join runs with NO exchange (the 100 TB pattern for
    repeated large-large joins)."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("lineitem_b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffled"
        # and it computes the right thing
        n = joined.count()
        plain = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).count()
        assert n == plain
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_fused_stage_handles_empty_partitions(spark):
    from deidentify_spark.pipeline.stages import PipelineConfig, run_pipeline

    df = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    ).repartition(4)
    out = run_pipeline(df, PipelineConfig(secret_key="k"))
    assert out.count() == 0


def test_aqe_skew_join_splits_hot_key(spark):
    """AQE skew handling (north_rule: skew handled explicitly): a 90%-hot
    join key gets split — the FINAL adaptive plan marks the join
    skew=true. Thresholds are tuned down so test-sized data exhibits the
    same mechanics as a hot host at 100 TB."""
    conf_keys = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("v"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200_000
        final_plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, "AQE did not split the skewed join"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_jaccard_capped_plan_is_join_free(spark):
    """The capped Jaccard is a LINEAR CHAIN: shingles -> cap -> size
    annotation -> per-shingle pair explosion -> one count aggregate.
    No join anywhere (the self-join formulation measured ~4x the
    shuffled bytes in round 2 — AQE's runtime exchange reuse only
    covers the shuffle output, not the per-branch aggregation work —
    see ngram_jaccard_pairs docstring), and every stage is consumed
    exactly once."""
    from deidentify_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = ngram_jaccard_pairs(docs, n=3, threshold=0.6, max_doc_freq=100)
    df.count()  # AQE: final plan materializes after execution
    plan = _plan(df)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    # the parquet source appears exactly once in the executed plan
    assert plan.count("documents.parquet") == 1, plan[:3000]


def test_words_exchange_width_rules(spark):
    """The two words-exchange widths: word_shingles (the minhash input)
    floors its exchange at max(input partitions, defaultParallelism);
    _materialized_words leaves the width to AQE (no explicit count)."""
    import re

    from deidentify_spark.operators.dedup import _materialized_words, word_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cores = spark.sparkContext.defaultParallelism
    for inp in (docs.coalesce(1), docs.repartition(cores + 3)):
        want = max(inp.rdd.getNumPartitions(), cores)
        plan = _plan(word_shingles(inp, 3))
        widths = re.findall(
            r"Exchange hashpartitioning\(doc_id#\d+L?, (\d+)\), REPARTITION_BY_NUM",
            plan,
        )
        assert widths == [str(want)], plan[:3000]
    plan = _plan(_materialized_words(docs, "text", "doc_id"))
    assert re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_COL", plan
    ), plan[:3000]
    assert "REPARTITION_BY_NUM" not in plan


def test_minhash_no_shingle_distinct_shuffle(spark):
    """Minhash signatures aggregate straight off the exploded shingles
    (min() is duplicate-insensitive): exactly ONE exchange below the
    signature aggregate — the doc_id shuffle — and no distinct of
    shingle strings."""
    from deidentify_spark.operators.dedup import minhash_signatures, word_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(word_shingles(docs, 3), k=8)
    plan = _plan(sigs)
    # one shuffle total: hashpartitioning(doc_id); a distinct would add a
    # second exchange keyed on (doc_id, shingle)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "hashpartitioning(doc_id" in plan


def test_minhash_and_simhash_plans_join_free(spark):
    """The LSH-family candidate operators are linear chains: one pass over
    the source, groupBy-collect buckets, pair explosion — no join operator
    (a bucket self-join would recompute shingles/signatures per branch),
    and exactly one evaluation of the SimHash UDF."""
    from deidentify_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_dups,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    joins = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
             "CartesianProduct", "BroadcastNestedLoopJoin")

    mh = minhash_lsh_candidates(docs, n=3, k=8, bands=4, max_bucket_size=1000)
    mh.count()
    plan = _plan(mh)
    for j in joins:
        assert j not in plan, j
    assert plan.count("documents.parquet") == 1

    sh = simhash_near_dups(docs, max_hamming=3, max_bucket_size=1000)
    sh.count()
    plan = _plan(sh)
    for j in joins:
        assert j not in plan, j
    assert plan.count("documents.parquet") == 1
    assert plan.count("ArrowEvalPython") == 1  # signature UDF runs once


def test_embedding_near_dups_plan_no_cartesian(spark):
    """The registered exact embedding query runs on the blocked-GEMM
    grid: NO CartesianProduct / BroadcastNestedLoopJoin — in fact no
    join operator at all (explode -> one grid-key exchange -> one
    FlatMapGroupsInPandas)."""
    df = entry_mod.queries()["embedding_near_dups"](spark, SF)
    df.count()
    plan = _plan(df)
    for join in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, join
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("embeddings.parquet") <= 2  # count() + grid scan


def test_jaccard_chain_shuffles_hashes_not_strings(spark):
    """The capped Jaccard chain's shuffled columns are 8-byte xxhash64
    longs — the shingle STRING must not appear past the first project
    (it is in no output column)."""
    from deidentify_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = ngram_jaccard_pairs(docs, n=3, threshold=0.6, max_doc_freq=100)
    df.count()
    plan = _plan(df)
    assert "xxhash64" in plan
    # every exchange keyed on "shingle" carries the LONG (#nL attr, the
    # xxhash64 alias), never the string column
    import re

    keyed = [
        m
        for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "shingle" in m
    ]
    assert keyed, plan[:2000]
    for m in keyed:
        assert re.search(r"shingle#\d+L", m), m


def test_dup_span_plan_shape(spark):
    """Substring dup-span detection: duplicated gram keys come from a
    codegen HashAggregate count (spill-safe) and equi-join back onto
    the grams — never a cartesian/nested-loop (the quadratic self-join
    shape), never a count-over-window or collect_list aggregate (both
    degrade to a full sort of the gram table and OOM at page scale —
    operators/curation.py documents the measurements)."""
    df = entry_mod.queries()["dup_span_stats_documents"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "ObjectHashAggregate" not in plan, "collect_list crept back in"
    # count aggregate must be the codegen HashAggregate form
    assert "HashAggregate" in plan and "count(1)" in plan
    # and at RUNTIME, AQE must reuse the materialization exchange across
    # the count branch and the join branch so the text shuffle + split
    # run once (only visible on the EXECUTED final plan — the
    # pre-execution string above never shows ReusedExchange)
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, "gram materialization ran twice"


def test_pack_sequences_plan_no_per_stratum_global_sort(spark):
    """Packing's running offset must be the bucketed two-level scan
    (partitioned_prefix_sum), never a Window.partitionBy(stratum)
    running sum — a dominant stratum ("web" ~ 90% of a real mix) would
    sort its whole corpus share in ONE task under the plain window.
    Visible in the plan: every window/sort spec over the token counts
    carries the _psum_bkt bucket key next to the stratum, and the
    bucket-offset fold joins back (never cartesian)."""
    plan = _plan(entry_mod.queries()["pack_sequences_documents"](spark, SF))
    assert "_psum_bkt" in plan, "bucketed scan gone — plain window is back"
    # no window/sort partitioned by the stratum ALONE: each occurrence
    # of the source column in a windowspecdefinition must be the
    # (source, _psum_bkt) pair (offset fold windows are per (stratum)
    # over <= B bucket rows, visible as (source, _psum_bkt) specs too)
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "source" in spec and "n_tokens" in plan:
            assert "_psum_bkt" in spec or "cum_n_tokens" not in spec
    assert "CartesianProduct" not in plan


def test_line_dedup_plan_no_hot_key_window(spark):
    """The duplicated-line key set must come from a codegen
    groupBy(lh).count() joined back — NEVER count-over-
    Window.partitionBy(lh): boilerplate lines are the hot keys this
    operator targets, and the window shape buffers every occurrence of
    a banner line in one task (the round-5 verdict's #1 scale
    finding)."""
    plan = _plan(entry_mod.queries()["line_dedup_documents"](spark, SF))
    assert "windowspecdefinition(lh" not in plan, "hot-key window is back"
    assert "HashAggregate" in plan and "count(1)" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_assign_shards_plan_not_serialized_per_shard(spark):
    """shard_pos must be the bucketed scan, not row_number over
    Window.partitionBy(shard) — the window caps parallelism at
    n_shards (8 here), serializing each shard's sort into one task."""
    plan = _plan(entry_mod.queries()["shard_assignment_documents"](spark, SF))
    assert "_psum_bkt" in plan, "bucketed scan gone — per-shard sort is back"
    assert "row_number" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_plan_broadcasts_eval_grams(spark):
    """The eval-set gram table must broadcast (benchmarks are tiny next
    to the corpus); a SortMergeJoin here would shuffle every corpus gram
    — the exact cost the operator's design avoids."""
    plan = _plan(entry_mod.queries()["decontaminate_documents"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_semantic_dedup_cap_filters_before_pandas(spark):
    """The max_cluster_size guard must act BEFORE applyInPandas: a
    degenerate cluster attracting ~everything would otherwise OOM on
    Arrow materialization before any in-UDF size check could run. The
    plan therefore shows the in-cap cluster set broadcast-joined
    against the assignments upstream of the single
    FlatMapGroupsInPandas, never a sort-merge join."""
    plan = _plan(entry_mod.queries()["semantic_dedup_documents"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the size filter feeding the join is a codegen aggregate over the
    # assignment, not a second pandas stage
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_dsir_output_reads_cached_slim_not_a_rescore(spark):
    """dsir_select is a two-phase global top-k: the slim (id, logw,
    key) projection is persisted and the threshold computed eagerly
    from it, so the OUTPUT plan must read the cached projection
    (InMemoryTableScan) and must NOT re-run the feature explode — the
    lazy-threshold first cut re-executed the whole scoring subplan
    (Catalyst prunes the branches differently, ReusedExchange never
    matches; 50k-page rehearsal measured exactly 2x score-only wall).
    A Generate node in the output plan means the explode is back."""
    df = entry_mod.queries()["dsir_selection_documents"](spark, SF)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, "slim projection not persisted"
    # Generate (the shingle explode) may appear only NESTED inside the
    # InMemoryRelation's description of the already-materialized plan,
    # never upstream of the cache boundary in the live part of the plan
    live = plan.split("InMemoryTableScan")[0]
    assert "Generate" not in live, "feature explode re-ran in the output plan"
    assert "CartesianProduct" not in plan


def test_bm25_plan_shape(spark):
    """BM25's inverted-index-free plan: the idf table and corpus stats
    broadcast (O(|Q|) rows / one row), the only corpus-sized shuffle is
    the (doc, term, tf) aggregate over tokens already filtered to the
    query terms, and the top-k is a TakeOrderedAndProject (distributed
    heap), never a global Sort."""
    plan = _plan(entry_mod.queries()["bm25_search_documents"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_bm25_multi_plan_single_tf_and_partial_topk(spark):
    """Batch BM25 must tokenize the corpus ONCE for all queries: the
    split lives inside the persisted slim projection (round-7 single-
    scan shape), so NO split() may appear above the cache boundary —
    the branches may re-explode the cached matched-term arrays (a few
    terms per doc), but a live split above the cache means the corpus
    tokenization re-ran per branch. The per-query top-k must carry
    Spark's WindowGroupLimit PARTIAL stage (map-side per-partition
    top-k before the exchange): without it, a query matching most of
    the corpus funnels every matching doc into one window task."""
    df = entry_mod.queries()["bm25_multi_search_documents"](spark, SF)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, "slim projection not persisted"
    live = plan.split("InMemoryTableScan")[0]
    assert "split(" not in live, "corpus tokenization re-ran outside the cache"
    assert "WindowGroupLimit" in plan and "Partial" in plan, (
        "map-side top-k prune missing — hot-query window skew is back"
    )
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    from deidentify_spark.runtime import release_tracked

    release_tracked()


def test_no_cartesian_product_in_any_registered_query(spark):
    """Registry-wide anti-pattern lint: NO registered query may compile
    to a CartesianProduct — the node Spark emits when a join has no
    keys and neither side broadcasts (the O(n^2) shuffle that kills a
    corpus-scale run). The deliberate broadcast-scalar cross joins
    (dsir/search/classifier/mixture) and the hard-negatives anchor
    panel compile to BroadcastNestedLoopJoin instead, which is exempt
    BY CONSTRUCTION here: BNLJ streams the big side once against a
    broadcast side, and every broadcast side in this registry is
    O(1)-to-O(batch) rows. Uses sf0.001 so the whole sweep is
    plan-construction-bound (a few queries run driver-side actions —
    vocab/centroid/LM-table collects — while BUILDING the DataFrame;
    that is their documented posture, not execution of the plan)."""
    skip = {
        # streaming/multimodal/roundtrip queries write temp outputs or
        # need the binary fixtures; their plans are pinned in their own
        # dedicated tests
        "warc_roundtrip_digest",
        "jsonl_roundtrip_documents",
        "orc_roundtrip_documents",
        "multimodal_decode_features",
    }
    sf = "/root/testdata/sf0.001"
    bad = []
    for name, fn in entry_mod.queries().items():
        if name in skip:
            continue
        try:
            plan = _plan(fn(spark, sf))
        except Exception as exc:  # pragma: no cover - lint must not mask
            bad.append((name, f"plan build failed: {exc}"))
            continue
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct in executed plan"))
    assert not bad, bad
