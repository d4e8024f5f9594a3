"""Dedup / similarity / text-stats / multimodal operator tests."""

import pytest
from pyspark.sql import functions as F

from deidentify_spark.operators.dedup import (
    _ngram_jaccard_pairs_textbook,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from deidentify_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from deidentify_spark.sources.textpools import GEN_SENTENCES


@pytest.fixture(scope="module")
def corpus(spark):
    """60 docs: 20 bases, each with a near-dup clone (one-word edit) and
    some exact dups; plus unrelated docs."""
    sents = GEN_SENTENCES["en"]
    rows = []
    doc_id = 0
    for i in range(20):
        base = " ".join(sents[(i + j) % len(sents)] for j in range(6))
        clone = base.replace("the", "a", 1) + " Extra tail sentence here."
        rows.append((doc_id, base)); doc_id += 1
        rows.append((doc_id, clone)); doc_id += 1
        if i % 5 == 0:
            rows.append((doc_id, base)); doc_id += 1  # exact dup
    for i in range(10):
        rows.append((doc_id, " ".join(sents[(7 * i + k) % len(sents)] for k in range(2)))); doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(corpus):
    out = exact_dedup(corpus)
    n_distinct = corpus.select("text").distinct().count()
    assert out.count() == n_distinct
    # canonical row is the min doc_id of each group
    kept = {r.doc_id for r in out.collect()}
    dups = corpus.groupBy("text").agg(F.min("doc_id").alias("m"), F.count("*").alias("c"))
    for r in dups.where("c > 1").collect():
        assert r.m in kept


def test_minhash_lsh_finds_near_dups(corpus):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(corpus, n=3, k=8, bands=4).collect()}
    truth = {(r.doc_a, r.doc_b) for r in _ngram_jaccard_pairs_textbook(corpus, n=3, threshold=0.5).collect()}
    assert truth, "corpus must contain true near-dup pairs"
    recall = len(pairs & truth) / len(truth)
    assert recall >= 0.9, (recall, len(pairs), len(truth))


def test_ngram_jaccard_values(corpus):
    rows = ngram_jaccard_pairs(corpus, n=3, threshold=0.5).collect()
    assert rows
    for r in rows:
        assert 0.5 <= r.jaccard <= 1.0
        assert r.doc_a < r.doc_b


def test_simhash_candidates(spark, corpus):
    """Quadrant banding must surface EVERY pair within Hamming distance 3
    (pigeonhole: 4 quadrants, <=3 differing bits leaves one equal) —
    verified against exact signature Hamming distances."""
    from deidentify_spark.operators.dedup import simhash_udf

    # add barely-edited clones so small-Hamming pairs definitely exist
    extra = [(1000 + i, r.text + " tail") for i, r in enumerate(corpus.collect()[:10])]
    df = corpus.union(spark.createDataFrame(extra, "doc_id long, text string"))

    sigs = {r.doc_id: r.sig for r in df.select("doc_id", simhash_udf()(F.col("text")).alias("sig")).collect()}
    truth = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                truth.add((a, b))
    assert truth, "corpus must contain Hamming<=3 pairs"
    pairs = {(r.doc_a, r.doc_b) for r in simhash_candidates(df).collect()}
    missed = truth - pairs
    assert not missed, missed


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rows = []
    base_vecs = []
    rng_base = np.arange(16, dtype=np.float64)
    for i in range(30):
        # deterministic pseudo-vectors
        v = np.cos(rng_base * (i + 1) * 0.7) + 0.1 * np.sin(rng_base + i)
        base_vecs.append(v)
        rows.append((2 * i, [float(x) for x in v]))
        # near-dup: tiny perturbation
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * np.cos(rng_base + 3 * i)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup(embeddings):
    pairs = embedding_near_dup_pairs(embeddings, threshold=0.99).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # every (2i, 2i+1) perturbation pair must be found
    for i in range(30):
        assert (2 * i, 2 * i + 1) in found


def test_lsh_topk_matches_bruteforce_recall(embeddings):
    q = embeddings.where("vec_id = 0").head().embedding
    exact = [r.vec_id for r in cosine_topk_bruteforce(embeddings, list(q), k=5).collect()]
    approx = [r.vec_id for r in cosine_topk_lsh(embeddings, list(q), k=5, n_planes=16, bands=8).collect()]
    # the true nearest (its perturbed twin + itself) must be found
    assert exact[0] in approx and exact[1] in approx
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.6, (exact, approx)


def test_text_stats_columns(spark):
    from deidentify_spark.functions.text_stats import (
        bpe_ish_token_count,
        normalized_fingerprint,
        whitespace_token_count,
        winnowing_fingerprints_udf,
    )

    df = spark.createDataFrame(
        [(1, "Hello world, 42 times!"), (2, "  hello   WORLD, 42 times!  "), (3, "")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        normalized_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].ws == 4
    assert by_id[1].bpe == 6  # Hello/ world/ ,/ 42/ times/ !
    assert by_id[3].ws == 0
    # fingerprint is case/whitespace-insensitive: reflowed text collides
    assert by_id[1].fp == by_id[2].fp
    assert by_id[1].fp != by_id[3].fp  # but content-sensitive
    long_text = " ".join(GEN_SENTENCES["en"][:5])
    df2 = spark.createDataFrame([(1, long_text), (2, long_text)], "doc_id long, text string")
    fps = df2.select(winnowing_fingerprints_udf()(F.col("text")).alias("w")).collect()
    assert fps[0].w == fps[1].w and len(fps[0].w) > 3


def test_multimodal_plumbing(spark):
    from deidentify_spark.operators.multimodal import (
        decode_assets,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, 50, seed=42, partitions=4)
    decoded = decode_assets(assets)
    rows = decoded.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.n_bytes > 0
        assert len(r.features) == 64
        assert abs(sum(r.features) - 1.0) < 1e-3
        if r.kind == "image":
            assert r.width and r.height and r.duration_ms is None
        else:
            assert r.duration_ms and r.duration_ms > 0
    # determinism across partitioning
    again = {r.asset_id: r.features for r in decode_assets(
        synthesize_assets(spark, 50, seed=42, partitions=7)
    ).collect()}
    for r in rows:
        assert again[r.asset_id] == r.features


def test_simhash_near_dups_verified(spark, corpus):
    from deidentify_spark.operators.dedup import simhash_near_dups, simhash_udf

    extra = [(1000 + i, r.text + " tail") for i, r in enumerate(corpus.collect()[:10])]
    df = corpus.union(spark.createDataFrame(extra, "doc_id long, text string"))
    out = simhash_near_dups(df, max_hamming=3).collect()
    assert out
    sigs = {r.doc_id: r.sig for r in df.select("doc_id", simhash_udf()(F.col("text")).alias("sig")).collect()}
    for r in out:
        true_h = bin(sigs[r.doc_a] ^ sigs[r.doc_b]).count("1")
        assert r.hamming == true_h <= 3


def test_word_shingles_short_docs(spark):
    """Docs with < n words yield zero shingles — not a sequence/element_at
    crash (Spark sequence steps DOWNWARD when start > stop, so the
    unguarded form explodes on 1-2 word docs; common in real web data).
    The DuckDB oracle twins also emit nothing for these docs."""
    from deidentify_spark.operators.dedup import (
        minhash_lsh_candidates,
        word_shingles,
    )

    df = spark.createDataFrame(
        [
            (0, ""),
            (1, "one"),
            (2, "two words"),
            (3, "exactly three words"),
            (4, "here are four words"),
            (5, "here are four words"),
        ],
        "doc_id long, text string",
    )
    sh = word_shingles(df, n=3).collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    assert 0 not in by_doc and 1 not in by_doc and 2 not in by_doc
    assert by_doc[3] == {"exactly three words"}
    assert by_doc[4] == {"here are four", "are four words"}
    # end-to-end: the LSH pipeline survives short docs and still pairs 4-5
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(df, n=3, k=8, bands=4).collect()
    }
    assert (4, 5) in pairs


def test_ngram_jaccard_short_docs_no_crash(spark):
    from deidentify_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(0, "hi"), (1, "a b c d e"), (2, "a b c d e")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 2)}


def test_simhash_batch_parity(corpus):
    """The vectorized batch SimHash is byte-parity with the scalar
    definition (which the DuckDB oracle SQL replicates)."""
    import numpy as np

    from deidentify_spark.operators.dedup import simhash_batch, simhash_py

    texts = [r.text for r in corpus.collect()]
    texts += ["", "one", "a a a a", "Mixed CASE words mixed case WORDS"]
    got = simhash_batch(texts)
    want = np.array([simhash_py(t) for t in texts], dtype=np.int64)
    assert (got == want).all()


def test_ngram_jaccard_doc_freq_cap(spark):
    """Stop-shingle cap bounds the self-join: a shingle shared by every
    doc is excluded from candidates AND set sizes, so unrelated docs that
    only share the hot shingle never pair, while true near-dups still do."""
    hot = "the quick brown fox"  # 4 words -> 2 three-gram shingles, in all docs
    rows = [(i, f"{hot} unique{i} filler{i} tail{i} pad{i} x{i}") for i in range(30)]
    rows += [(100, hot + " alpha beta gamma delta epsilon"),
             (101, hot + " alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from deidentify_spark.operators.dedup import _ngram_jaccard_pairs_textbook

    uncapped = _ngram_jaccard_pairs_textbook(df, n=3, threshold=0.15)
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.15, max_doc_freq=10)
    un_pairs = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cap_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # every pair among the 30 unrelated docs existed only via hot shingles
    assert any(a < 30 and b < 30 for a, b in un_pairs)
    assert not any(a < 30 and b < 30 for a, b in cap_pairs)
    # the true near-dup pair survives the cap
    assert (100, 101) in cap_pairs
    # join input is bounded: no shingle group exceeds the cap
    from deidentify_spark.operators.dedup import word_shingles
    from pyspark.sql import functions as F2

    sh = word_shingles(df, n=3)
    hot_set = {r.shingle for r in sh.groupBy("shingle").count().where("count > 10").collect()}
    assert hot_set  # the guard actually had something to remove


def test_embedding_lsh_pair_mining_recall(spark):
    """LSH-blocked pair mining finds >=90% of exact cos>=0.9 pairs on a
    corpus with planted clones, without any cartesian stage."""
    from deidentify_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )
    from deidentify_spark.sources.vectors import synthesize_embeddings

    emb = synthesize_embeddings(spark, n_base=120, n_clones=40, dim=64, seed=7)
    emb = emb.persist()
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert len(exact) >= 30, "clone planting must create true pairs"
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.9, dim=64, n_planes=64, bands=8
        ).collect()
    }
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.9, (recall, len(lsh), len(exact))
    # verified pairs carry the SAME exact cosine (verify stage is exact)
    for k, v in lsh.items():
        assert k in exact or v >= 0.9
        if k in exact:
            assert abs(v - exact[k]) < 1e-9
    # no false positives below threshold
    assert all(v >= 0.9 for v in lsh.values())
    emb.unpersist()


def test_embedding_lsh_plan_no_cartesian(spark):
    """The LSH pair-mining physical plan must contain no cartesian/
    broadcast-nested-loop stage — candidates come from an equi-join."""
    from deidentify_spark.operators.dedup import embedding_near_dup_pairs_lsh
    from deidentify_spark.sources.vectors import synthesize_embeddings

    emb = synthesize_embeddings(spark, n_base=50, n_clones=10, dim=64)
    plan = (
        embedding_near_dup_pairs_lsh(emb, threshold=0.9, dim=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_features_scalar_parity(spark):
    """The batched histogram (segment bincount) is bit-identical to the
    scalar byte_histogram_features definition."""
    from deidentify_spark.operators.multimodal import (
        byte_histogram_features,
        decode_assets,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, 40, seed=3, partitions=4)
    payloads = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    decoded = decode_assets(assets).collect()
    assert len(decoded) == 40
    for r in decoded:
        assert r.features == byte_histogram_features(payloads[r.asset_id])
        assert r.n_bytes == len(payloads[r.asset_id])


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """A bucket over max_bucket_size is dropped whole (standard LSH
    practice for boilerplate signatures); small buckets still pair."""
    from deidentify_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_dups,
    )

    # 12 docs with identical text -> every band bucket has 12 members;
    # 2 near-dup docs -> buckets of 2
    long_doc = " ".join(GEN_SENTENCES["en"][:8])
    rows = [(i, "common boilerplate text repeated everywhere always") for i in range(12)]
    rows += [(100, long_doc), (101, long_doc + " extra tail.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.doc_a, r.doc_b) for r in
              minhash_lsh_candidates(df, n=3, k=8, bands=4, max_bucket_size=10).collect()}
    assert (100, 101) in capped
    assert not any(a < 12 and b < 12 for a, b in capped)
    uncapped = {(r.doc_a, r.doc_b) for r in
                minhash_lsh_candidates(df, n=3, k=8, bands=4).collect()}
    assert any(a < 12 and b < 12 for a, b in uncapped)
    # same guard on simhash
    sh = {(r.doc_a, r.doc_b) for r in
          simhash_near_dups(df, max_hamming=3, max_bucket_size=10).collect()}
    assert (100, 101) in sh
    assert not any(a < 12 and b < 12 for a, b in sh)


def test_ivf_topk_finds_planted_neighbor(spark):
    """IVF-flat probe: the true near-dup (cos ~0.98) is always retrieved,
    results carry exact cosines, and the operator is deterministic across
    partitioning (data-sampled centroids, no float-order-dependent Lloyd
    updates). Tail recall on near-uniform vectors is inherently low for
    IVF — the near-dup retrieval use case is what's pinned."""
    from deidentify_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )
    from deidentify_spark.sources.vectors import synthesize_embeddings

    emb = synthesize_embeddings(spark, n_base=300, n_clones=60, dim=64, seed=7)
    emb = emb.persist()
    q = emb.where("vec_id = 5").head().embedding  # clone 305 planted
    rest = emb.where("vec_id != 5")
    exact = {r.vec_id: r.cosine for r in
             cosine_topk_bruteforce(rest, list(q), k=10).collect()}
    approx = [(r.vec_id, r.cosine) for r in
              cosine_topk_ivf(rest, list(q), k=10, n_clusters=16, n_probe=4).collect()]
    assert approx[0][0] == 305 and approx[0][1] > 0.9
    for vid, cos in approx:
        if vid in exact:
            assert abs(cos - exact[vid]) < 1e-9  # exact verify inside probe
    again = [(r.vec_id, r.cosine) for r in
             cosine_topk_ivf(rest.repartition(13), list(q), k=10,
                             n_clusters=16, n_probe=4).collect()]
    assert approx == again
    emb.unpersist()


def test_pair_emitters_skip_self_pairs_and_empty_input(spark):
    """Duplicate ids never yield (x, x) pairs (strict doc_a < doc_b, as
    in the DuckDB oracles), and the LSH embedding miner returns an empty
    frame — not a TypeError — on empty input."""
    from deidentify_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
        minhash_lsh_candidates,
        simhash_near_dups,
    )

    txt = " ".join(GEN_SENTENCES["en"][:6])
    df = spark.createDataFrame(
        [(7, txt), (7, txt), (9, txt + " tail.")], "doc_id long, text string"
    )
    mh = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(df).collect()}
    sh = {(r.doc_a, r.doc_b) for r in simhash_near_dups(df).collect()}
    assert all(a < b for a, b in mh | sh) and (7, 9) in mh

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs_lsh(empty, threshold=0.9)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]


def test_blocked_gemm_matches_textbook_exact(embeddings, spark):
    """embedding_near_dup_pairs_blocked is EXACT: identical pair set and
    4dp cosines to the textbook a.id < b.id join, across a multi-cell
    grid (rows_per_block small enough to force several blocks), and on
    inputs with zero vectors."""
    from deidentify_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_blocked,
    )

    want = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(embeddings, threshold=0.9).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_blocked(
            embeddings, threshold=0.9, rows_per_block=7
        ).collect()
    }
    assert got == want and len(want) >= 30

    with_zero = embeddings.unionByName(
        spark.createDataFrame(
            [(999, [0.0] * 16)], "vec_id long, embedding array<float>"
        )
    )
    z = embedding_near_dup_pairs_blocked(with_zero, threshold=0.0, n_blocks=3)
    assert z.where("id_a = 999 or id_b = 999").count() == 0


def test_dedup_cap_lineage_counts(spark):
    """The cap-audit aggregates report exactly what the guards drop: a
    crafted corpus where one shingle appears in 5 docs and one LSH
    bucket holds 5 exact-ish near-dups."""
    from deidentify_spark.operators.dedup import (
        minhash_lsh_dropped_buckets,
        ngram_jaccard_dropped_shingles,
    )

    txt = " ".join(GEN_SENTENCES["en"][:6])
    rows = [(i, txt + f" unique tail {i}") for i in range(5)]
    rows += [(10 + i, f"totally different filler text number {i} ok") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    jc = ngram_jaccard_dropped_shingles(df, max_doc_freq=4).head()
    # every shingle of the shared prefix appears in all 5 docs (> 4)
    assert jc.n_shingles_dropped > 0
    assert jc.n_memberships_dropped == 5 * jc.n_shingles_dropped
    assert jc.n_pairs_dropped == 10 * jc.n_shingles_dropped  # C(5,2) each

    mh = minhash_lsh_dropped_buckets(df, max_bucket_size=4).head()
    assert mh.n_buckets_dropped >= 1  # the 5-doc near-dup family buckets
    assert mh.n_pairs_dropped >= 10
    none = minhash_lsh_dropped_buckets(df, max_bucket_size=1000).head()
    assert (none.n_buckets_dropped, none.n_pairs_dropped) == (0, 0)

    # the cap is never silent: the candidate emitter itself carries a
    # CollectMetrics node whose numbers match the standalone audit.
    # (Needs a non-empty candidate output: AQE empty-relation
    # propagation would otherwise erase the metrics node — the
    # documented caveat in minhash_lsh_candidates.)
    from pyspark.sql import Observation

    from deidentify_spark.operators.dedup import minhash_lsh_candidates

    long_doc = " ".join(GEN_SENTENCES["en"][:8])
    pair_rows = [
        (i, "common boilerplate text repeated everywhere always")
        for i in range(12)  # 12-member buckets: dropped at cap 10
    ]
    pair_rows += [(100, long_doc), (101, long_doc + " extra tail.")]  # pair
    pair_df = spark.createDataFrame(pair_rows, "doc_id long, text string")
    obs = Observation()
    out = minhash_lsh_candidates(pair_df, max_bucket_size=10, observation=obs)
    assert out.count() > 0
    mh2 = minhash_lsh_dropped_buckets(pair_df, max_bucket_size=10).head()
    got = obs.get
    assert got["n_buckets_dropped"] == mh2.n_buckets_dropped
    assert got["n_memberships_dropped"] == mh2.n_memberships_dropped
    assert got["n_pairs_dropped"] == mh2.n_pairs_dropped
    assert got["n_buckets_dropped"] > 0  # the cap really dropped buckets
    # default (no Observation passed): named metrics node in the plan
    cand = minhash_lsh_candidates(df, max_bucket_size=4)
    assert "minhash_lsh_cap" in cand._jdf.queryExecution().analyzed().toString()


def test_semantic_dedup_subset_and_recall(spark):
    """SemDeDup pairs are a SUBSET of the exact all-pairs result (the
    within-cluster restriction only removes pairs), and on planted clone
    clusters recall stays high because a clone pair lands in one cluster
    (assignment is cosine-based, clones are near-identical)."""
    from deidentify_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )
    from deidentify_spark.sources.vectors import synthesize_embeddings

    emb = synthesize_embeddings(
        spark, n_base=200, n_clones=40, dim=32, seed=11, partitions=4
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    sem = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            emb, threshold=0.9, n_clusters=8
        ).collect()
    }
    assert sem <= exact, "semantic pairs must be a subset of exact pairs"
    assert exact, "planted clones must produce exact pairs"
    recall = len(sem) / len(exact)
    assert recall >= 0.8, (recall, len(sem), len(exact))


def test_semantic_dedup_deterministic_and_capped(spark):
    from deidentify_spark.operators.dedup import semantic_dedup_pairs
    from deidentify_spark.sources.vectors import synthesize_embeddings

    emb = synthesize_embeddings(
        spark, n_base=100, n_clones=20, dim=16, seed=3, partitions=4
    )
    a = sorted(map(tuple, semantic_dedup_pairs(emb, 0.9, 4).collect()))
    b = sorted(map(tuple, semantic_dedup_pairs(emb, 0.9, 4).collect()))
    assert a == b
    # a cap of 1 drops every cluster -> no pairs, no crash
    assert semantic_dedup_pairs(emb, 0.9, 4, max_cluster_size=1).count() == 0


def test_semantic_dedup_dropped_clusters_audit(spark):
    """The max_cluster_size drop is audited, not silent: the twin
    aggregate reports exactly the clusters/memberships/pairs the cap
    discarded, and the pair miner + audit twin partition the work
    (in-cap pairs mined, over-cap volume counted)."""
    from deidentify_spark.operators.dedup import (
        _semantic_clusters,
        semantic_dedup_dropped_clusters,
        semantic_dedup_pairs,
    )
    from deidentify_spark.sources.vectors import synthesize_embeddings

    emb = synthesize_embeddings(
        spark, n_base=100, n_clones=20, dim=16, seed=3, partitions=4
    )
    n = emb.count()
    # cap=1 drops every cluster whole: memberships == corpus size
    d = semantic_dedup_dropped_clusters(emb, n_clusters=4, max_cluster_size=1).head()
    assert d.n_clusters_dropped == 4
    assert d.n_memberships_dropped == n
    sizes = [
        r["count"]
        for r in _semantic_clusters(emb, 4, "vec_id", "embedding", None, 5000)
        .groupBy("cluster")
        .count()
        .collect()
    ]
    assert d.n_pairs_dropped == sum(m * (m - 1) // 2 for m in sizes)
    # a generous cap drops nothing
    none = semantic_dedup_dropped_clusters(
        emb, n_clusters=4, max_cluster_size=100_000
    ).head()
    assert (none.n_clusters_dropped, none.n_memberships_dropped) == (0, 0)
    # partition property: cap between min and max cluster size -> the
    # miner emits only in-cap clusters, the audit counts the rest
    cap = sorted(sizes)[1]
    mined_clusters = {
        r["cluster"]
        for r in semantic_dedup_pairs(emb, 0.0, 4, max_cluster_size=cap)
        .select("cluster")
        .distinct()
        .collect()
    }
    over = semantic_dedup_dropped_clusters(emb, n_clusters=4, max_cluster_size=cap).head()
    assert over.n_clusters_dropped == sum(1 for m in sizes if m > cap)
    assert len(mined_clusters) == sum(1 for m in sizes if 2 <= m <= cap)


def test_semantic_dedup_autosized_clusters(spark):
    """n_clusters=None scales C with the corpus (ceil(n/target)), so
    per-cluster GEMM work stays bounded as n grows: 4x the vectors at
    the same target yields 4x the clusters with similar max cluster
    size, not 4x-larger clusters."""
    from deidentify_spark.operators.dedup import _semantic_clusters
    from deidentify_spark.sources.vectors import synthesize_embeddings

    maxes = {}
    for n_base, n_clones in [(160, 40), (640, 160)]:
        emb = synthesize_embeddings(
            spark, n_base=n_base, n_clones=n_clones, dim=16, seed=3, partitions=4
        )
        n = n_base + n_clones
        sizes = [
            r["count"]
            for r in _semantic_clusters(
                emb, None, "vec_id", "embedding", None, 100
            )
            .groupBy("cluster")
            .count()
            .collect()
        ]
        assert len(sizes) == -(-n // 100)  # ceil(n / target)
        maxes[n] = max(sizes)
    # bounded per-cluster work: max cluster stays near the target at
    # both scales instead of growing with n (measured 108 / 124)
    assert maxes[800] <= 2 * maxes[200]
    assert all(m <= 200 for m in maxes.values()), maxes


def test_exact_dedup_incremental(spark):
    """Snapshot-N+1 dedup against a stored hash table: previously-seen
    texts drop, the batch still dedups internally, and re-running the
    same batch after appending its hashes yields the empty set
    (resume-safety)."""
    from deidentify_spark.operators.dedup import exact_dedup_incremental

    old = spark.createDataFrame(
        [(0, "seen before"), (1, "also seen")], "doc_id long, text string"
    )
    seen = old.select(F.md5("text").alias("content_md5"))
    batch = spark.createDataFrame(
        [
            (10, "seen before"),     # in the store -> dropped
            (11, "brand new"),
            (12, "brand new"),       # batch-internal dup -> one kept
            (13, "another new"),
        ],
        "doc_id long, text string",
    )
    kept, new_hashes = exact_dedup_incremental(batch, seen)
    assert {r.doc_id for r in kept.collect()} == {11, 13}
    assert new_hashes.count() == 2
    # append and re-run: nothing new
    seen2 = seen.unionByName(new_hashes)
    kept2, _ = exact_dedup_incremental(batch, seen2)
    assert kept2.count() == 0


def test_minhash_incremental_matches_one_shot(spark, corpus):
    """Incremental LSH == the one-shot operator's pairs restricted to
    pairs involving at least one new doc (membership union property),
    and re-running the batch after appending its membership changes
    nothing."""
    from deidentify_spark.operators.dedup import (
        _minhash_band_membership,
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
    )

    old = corpus.where(F.col("doc_id") % 2 == 0)
    new = corpus.where(F.col("doc_id") % 2 == 1)
    store = _minhash_band_membership(old, 3, 8, 4, "text", "doc_id")

    cand, mem_new = minhash_lsh_candidates_incremental(new, store)
    got = {(r.doc_a, r.doc_b) for r in cand.collect()}

    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(corpus, n=3, k=8, bands=4).collect()
    }
    want = {(a, b) for a, b in full if a % 2 == 1 or b % 2 == 1}
    assert got == want
    assert want, "corpus must produce cross-snapshot candidates"
    # some pairs must genuinely cross the snapshot boundary
    assert any((a % 2) != (b % 2) for a, b in got)

    # cap drops the degenerate store signature before the cross join
    none_left, _ = minhash_lsh_candidates_incremental(
        new, store, max_bucket_size=0
    )
    assert none_left.count() == 0


# ------------------------------------------------------- hard negatives


def test_hard_negatives_band_and_rank(embeddings):
    """Per-anchor top-k inside [lo, hi): self excluded, the near-dup twin
    (cosine > hi) excluded, ranks dense 1..k, cosines non-increasing,
    and the result matches a numpy brute force exactly."""
    import numpy as np

    from deidentify_spark.operators.similarity import hard_negatives_topk

    anchors = embeddings.where("vec_id < 2").select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    out = hard_negatives_topk(
        embeddings, anchors, k=5, lo=0.1, hi=0.95, n_buckets=4
    ).collect()

    rows = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in embeddings.collect()}
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert set(by_anchor) == {0, 1}
    for aid, got in by_anchor.items():
        got.sort(key=lambda r: r.rank)
        assert [r.rank for r in got] == list(range(1, len(got) + 1))
        cosines = [r.cosine for r in got]
        assert cosines == sorted(cosines, reverse=True)
        # numpy brute force with the same round-then-rank convention
        a = rows[aid]
        cand = []
        for vid, v in rows.items():
            if vid == aid:
                continue
            c = round(float(v @ a / (np.linalg.norm(v) * np.linalg.norm(a))), 4)
            if 0.1 <= c < 0.95:
                cand.append((-c, vid))
        cand.sort()
        expect = [(vid, -nc) for nc, vid in cand[:5]]
        assert [(r.vec_id, r.cosine) for r in got] == pytest.approx(expect)
        # the twin (cosine ~0.99+) must NOT appear — it is a near-dup,
        # not a hard negative
        assert (aid ^ 1) not in [r.vec_id for r in got]


def test_hard_negatives_phase1_window_is_bucketed(embeddings):
    """The phase-1 row_number window must partition by (anchor, bucket) —
    a plain per-anchor window would sort each anchor's whole candidate
    band in one task."""
    from deidentify_spark.operators.similarity import hard_negatives_topk

    anchors = embeddings.where("vec_id < 2").select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    plan = hard_negatives_topk(
        embeddings, anchors, k=5, n_buckets=4
    )._jdf.queryExecution().optimizedPlan().toString()
    # two Window nodes: the first (inner, bucketed) partitions by _b
    assert "_b" in plan
    assert plan.count("row_number") >= 2


def test_verify_candidate_pairs_confirms_and_rejects(spark):
    from deidentify_spark.operators.dedup import verify_candidate_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different content about spark plans"),
            (4, ""),  # empty
            (5, None),  # NULL text
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "doc_a long, doc_b long"
    )
    out = {
        (r.doc_a, r.doc_b): r.edit_sim
        for r in verify_candidate_pairs(docs, cand, prefix_len=500, min_sim=0.5).collect()
    }
    assert (1, 2) in out and out[(1, 2)] > 0.9  # one-word edit confirmed
    assert (1, 3) not in out  # unrelated candidate rejected
    assert out[(4, 5)] == 1.0  # two empty prefixes: defined as identical


def test_verify_candidate_pairs_prefix_cap(spark):
    """Documents identical in the first prefix_len chars but divergent
    after must verify at 1.0 — the bounded-surrogate contract."""
    from deidentify_spark.operators.dedup import verify_candidate_pairs

    head = "x" * 600
    docs = spark.createDataFrame(
        [(1, head + "AAAA"), (2, head + "BBBB")], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    row = verify_candidate_pairs(docs, cand, prefix_len=500).collect()[0]
    assert row.edit_sim == 1.0


def test_centroid_outliers_matches_numpy(spark):
    from deidentify_spark.operators.similarity import centroid_outliers

    import math

    import numpy as np

    rng = np.random.RandomState(9)
    n, d = 120, 8
    labels = rng.randint(0, 3, n)
    # tight clusters around a random direction per group, so in-group
    # cosine MAD is small and the planted anti-centroid vector flags
    dirs = rng.randn(3, d)
    vecs = (dirs[labels] + 0.15 * rng.randn(n, d)).astype(np.float32)
    for g in range(3):
        i = int(np.where(labels == g)[0][0])
        vecs[i] = (-dirs[g]).astype(np.float32)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]], int(labels[i])) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r.vec_id: r for r in centroid_outliers(emb).collect()}

    def disc_p50(vals):
        vals = sorted(vals)
        return vals[math.ceil(0.5 * len(vals)) - 1]

    v64 = vecs.astype(np.float64)
    for g in range(3):
        idx = [i for i in range(n) if labels[i] == g]
        c = v64[idx].mean(axis=0)
        cosr = {
            i: round(
                float(v64[i] @ c)
                / (math.sqrt(float(v64[i] @ v64[i])) * math.sqrt(float(c @ c))),
                6,
            )
            for i in idx
        }
        med = disc_p50(list(cosr.values()))
        mad = disc_p50([abs(x - med) for x in cosr.values()])
        for i in idx:
            r = got[i]
            assert r.centroid_cos == pytest.approx(cosr[i], abs=2e-6)
            assert r.is_outlier == (abs(cosr[i] - med) > 3.0 * mad), (
                i, cosr[i], med, mad,
            )
        planted = idx[0]
        assert got[planted].is_outlier


def test_centroid_outliers_plan_no_cartesian(spark):
    from deidentify_spark.operators.similarity import centroid_outliers

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(8)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = (
        centroid_outliers(emb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
