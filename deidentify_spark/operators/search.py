"""BM25 top-k text search (Robertson & Zaragoza 2009, "The
Probabilistic Relevance Framework: BM25 and Beyond"; idf form is
Lucene's non-negative ``ln(1 + (N - df + 0.5)/(df + 0.5))``) — the
text-side companion to the embedding ANN operators
(operators/similarity.py): keyword retrieval over the document corpus
without any index build, as a pure DataFrame plan.

No counterpart in the reference (aliengiraffe/deidentify is a PII
scrubber); §2.G training-data-pipeline surface — corpus search is how
pipeline operators audit what a filter kept ("show me the docs about
X that survived"), and BM25 is the standard lexical baseline next to
embedding retrieval.

Scale posture
-------------
The classic formulation builds an inverted index; the Spark-native
equivalent notes that for a GIVEN query only ``|Q|`` postings lists
matter, so the plan filters the exploded token stream to the query
terms IMMEDIATELY (predicate on the generator output — everything
else never reaches a shuffle), aggregates (doc, term) term
frequencies with map-side combine, broadcasts the O(|Q|)-row idf
table and the 2-value corpus stats (N, avgdl), and finishes with one
partial-aggregated groupBy(doc) sum and a TakeOrderedAndProject
top-k (distributed heap, no global sort). Total cost: two linear
scans (tokens + corpus stats) and ONE shuffle of (doc, term, tf)
rows for just the matching terms. No UDFs, no index, no driver-side
state; repeated-query workloads would persist the tf aggregate, but
the one-shot plan is already index-free-optimal for batch audits.

Tokenization is the repo-pinned RE2 whitespace class over
lower(trim(text)) — identical in the DuckDB oracle twin. The split
is evaluated twice per doc (once for dl, once for the explode);
that's a constant factor 2 on the scan, not the HOF re-split blowup
_materialized_words guards against (no per-element lambda here), and
skipping the barrier saves its full-text repartition shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from deidentify_spark.functions.text_stats import RE2_WS_CLASS
from deidentify_spark.runtime import tracked_persist

__all__ = [
    "bm25_topk",
    "bm25_topk_multi",
    "bm25_oracle_sql",
    "bm25_multi_oracle_sql",
]

K1 = 1.2  # BM25 term-frequency saturation
B = 0.75  # BM25 document-length normalization
# one matched term's score in the DuckDB twins, over tf rows t and idf rows i
_BM25_TERM_SQL = f"""i.idf * (t.tf * ({K1} + 1.0))
                       / (t.tf + {K1} * (1.0 - {B} + {B} * t.dl / i.avgdl))"""


def _tf_and_stats(
    df: DataFrame, terms: list[str], text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(tf, stats) for the BM25 operators from ONE corpus scan.

    A slim PERSISTED projection (id, dl, matched-terms array) carries
    everything both downstream needs: ``stats`` (N, avgdl — previously
    a SECOND full scan + split of the corpus just for the average
    doclength) aggregates it, and the (doc, term, tf) table explodes
    only the matched terms (most docs contribute an empty array). The
    split runs once per doc behind a two-step select (CollapseProject
    does not inline a non-cheap expression referenced twice).

    tf is persisted too: it feeds the per-term doc-freq aggregate and
    the scoring join, branches Catalyst prunes differently (the r5
    measurement: 25.7s vs 14.8s at 50k pages without it). Both caches
    are slim — O(n_docs) x ~20 B and |matching docs| x |Q| rows — and
    registered for runtime.release_tracked(). (A window-count over term
    instead would collapse each term's rows into ONE partition — a
    skew bomb for a common term at corpus scale — hence aggregate +
    broadcast, not window.)
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), RE2_WS_CLASS + "+")
    slim = tracked_persist(
        df.select(F.col(id_col), words.alias("_w")).select(
            id_col,
            F.size("_w").alias("_dl"),
            F.filter("_w", lambda w: w.isin(terms)).alias("_mw"),
        )
    )
    stats = slim.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    toks = slim.select(
        F.col(id_col), "_dl", F.explode("_mw").alias("_term")
    )
    # tf itself is NOT persisted anymore: its two consumers (doc-freq
    # aggregate, scoring join) both re-derive it from the CACHED slim
    # table — exploding a few matched terms per doc — so the branch
    # recompute the r5 measurement caught (a full corpus explode per
    # branch) cannot recur, and the second cache build is saved.
    tf = toks.groupBy(id_col, "_dl", "_term").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    return tf, stats


def _bm25_idf(tf: DataFrame, stats: DataFrame) -> DataFrame:
    """(_term, _idf, _avgdl): per-term doc frequency from ``tf`` with
    the one-row corpus stats broadcast alongside."""
    return (
        tf.groupBy("_term")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "_term",
            F.log(
                1.0 + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ).alias("_idf"),
            "_avgdl",
        )
    )


def _bm25_term() -> Column:
    """One matched term's score over the (_idf, _tf, _dl, _avgdl) columns."""
    return (
        F.col("_idf")
        * (F.col("_tf") * (K1 + 1.0))
        / (F.col("_tf") + K1 * (1.0 - B + B * F.col("_dl") / F.col("_avgdl")))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` docs by BM25 score for a bag of query terms:
    ``(id_col, bm25)`` ordered by rounded score desc, id asc.

    score(d) = sum over matched terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5)).

    Docs containing none of the terms never enter the ranking (a
    score-0 tail is noise, not a result). Terms are matched
    lowercase-exact against whitespace tokens.
    """
    terms = sorted({t.lower() for t in query_terms})
    tf, stats = _tf_and_stats(df, terms, text_col, id_col)
    idf = _bm25_idf(tf, stats)
    scored = tf.join(F.broadcast(idf), "_term").withColumn("_s", _bm25_term())
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def bm25_oracle_sql(
    table: str,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of bm25_topk: same tokenization, idf form, and
    rounded-score-then-id ordering (ties in the ROUNDED score resolve
    identically on both engines)."""
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in terms)
    words = (
        f"regexp_split_to_array(lower(trim({text_col}, ' ')), '[ \\t\\n\\f\\r]+')"
    )
    return f"""
        WITH docs AS (SELECT {id_col}, {words} AS w FROM {table}),
        toks AS (
            SELECT {id_col}, len(w) AS dl, unnest(w) AS term FROM docs
        ),
        tf AS (
            SELECT {id_col}, dl, term, COUNT(*) AS tf
            FROM toks WHERE term IN ({in_list})
            GROUP BY {id_col}, dl, term
        ),
        stats AS (SELECT COUNT(*) AS n, AVG(len(w)) AS avgdl FROM docs),
        idf AS (
            SELECT term,
                   ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf,
                   avgdl
            FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), stats
        ),
        scored AS (
            SELECT t.{id_col},
                   SUM({_BM25_TERM_SQL}) AS s
            FROM tf t JOIN idf i USING (term)
            GROUP BY t.{id_col}
        )
        SELECT {id_col}, ROUND(s, 4) AS bm25
        FROM scored
        ORDER BY ROUND(s, 4) DESC, {id_col}
        LIMIT {k}
    """


def bm25_topk_multi(
    df: DataFrame,
    queries: dict[str, list[str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch BM25: per-query top-``k`` for MANY queries in ONE corpus
    pass — ``(query_id, id_col, bm25)`` ordered by (query_id, rounded
    score desc, id asc). A real audit-search pass runs hundreds of
    queries; looping ``bm25_topk`` would re-scan the corpus per query.

    Scale shape: the exploded token stream filters to the UNION of all
    query terms immediately; the (doc, term, tf) aggregate materializes
    ONCE (tracked persist — it feeds the per-term doc-freq aggregate
    and the scoring join, exactly the single-query posture); idf and
    the (query_id, term) table broadcast (O(total query terms) rows);
    scoring is one partial-aggregated groupBy(query_id, doc) sum. The
    per-query top-k window (row_number <= k over query_id) is NOT the
    hot-key trap it looks like: Spark's WindowGroupLimit rule inserts a
    PARTIAL per-input-partition top-k before the exchange (pinned in
    tests/test_plans.py), so a query matching most of the corpus ships
    at most tasks x k rows to its final window — the built-in
    equivalent of the salted two-level ranking, one exchange cheaper
    (a hand-salted first level was built, measured plan-identical in
    survivors, and removed as redundant).

    Ranking orders by the ROUNDED (4 dp) score with ``id_col`` asc as
    the tie-break, so results are deterministic and the DuckDB twin
    (``bm25_multi_oracle_sql``) resolves boundary ties identically.
    Terms match lowercase-exact; a term shared by several queries is
    tf-counted once and scored per query.
    """
    all_terms = sorted({t.lower() for terms in queries.values() for t in terms})
    tf, stats = _tf_and_stats(df, all_terms, text_col, id_col)
    idf = _bm25_idf(tf, stats)
    qterms = df.sparkSession.createDataFrame(
        sorted(
            {(qid, t.lower()) for qid, terms in queries.items() for t in terms}
        ),
        "query_id string, _term string",
    )
    scored = (
        tf.join(F.broadcast(idf), "_term")
        .join(F.broadcast(qterms), "_term")
        .withColumn("_s", _bm25_term())
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
    )
    order = [F.desc("bm25"), F.col(id_col).asc()]
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(final))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", *order)
    )


def bm25_multi_oracle_sql(
    table: str,
    queries: dict[str, list[str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of bm25_topk_multi: same tokenization/idf, the
    (query_id, term) table as VALUES, a plain per-query ROW_NUMBER
    (single-node SQL doesn't need the salted two-level form), ranking
    on the ROUNDED score with id tie-break — identical boundary
    resolution."""
    all_terms = sorted({t.lower() for terms in queries.values() for t in terms})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qvals = ",\n                 ".join(
        f"('{qid}', '{t.lower()}')"
        for qid, terms in sorted(queries.items())
        for t in sorted({x.lower() for x in terms})
    )
    words = (
        f"regexp_split_to_array(lower(trim({text_col}, ' ')), '[ \\t\\n\\f\\r]+')"
    )
    return f"""
        WITH docs AS (SELECT {id_col}, {words} AS w FROM {table}),
        toks AS (
            SELECT {id_col}, len(w) AS dl, unnest(w) AS term FROM docs
        ),
        tf AS (
            SELECT {id_col}, dl, term, COUNT(*) AS tf
            FROM toks WHERE term IN ({in_list})
            GROUP BY {id_col}, dl, term
        ),
        stats AS (SELECT COUNT(*) AS n, AVG(len(w)) AS avgdl FROM docs),
        idf AS (
            SELECT term,
                   ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf,
                   avgdl
            FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), stats
        ),
        q(query_id, term) AS (VALUES
                 {qvals}),
        scored AS (
            SELECT q.query_id, t.{id_col},
                   ROUND(SUM({_BM25_TERM_SQL}),
                       4) AS bm25
            FROM tf t JOIN idf i USING (term) JOIN q USING (term)
            GROUP BY q.query_id, t.{id_col}
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY bm25 DESC, {id_col}
            ) AS rn FROM scored
        )
        SELECT query_id, {id_col}, bm25
        FROM ranked WHERE rn <= {k}
        ORDER BY query_id, bm25 DESC, {id_col}
    """
