"""Weighted PageRank over an edge DataFrame — the link-analysis stage a
web-scale curation pipeline runs over its host/outlink graph (quality
signals like Common Crawl's harmonic-centrality lists are rank-derived;
page-level rank is a standard quality prior for keep/drop weighting).

Reference parity note: the reference library (deidentify.go) has no
graph surface; this module extends the §2.G training-data operators in
the same spirit as `operators/components.py` (the other iterative graph
op in the repo). It is the POWER-ITERATION shape, expressed as pure
DataFrame rounds so it scales to a 10^9-node host graph:

* the rank vector is a DataFrame (node, rank) — never collected;
* one iteration = one equi-join (ranks ⋈ transition edges on src) +
  one groupBy(dst).sum — both AQE-planned shuffles on the node key;
* dangling mass (nodes with no out-edges) is folded back uniformly via
  a 1-row aggregate broadcast-crossJoined into the update — no driver
  action inside the loop, the whole iteration stays lazy;
* lineage is cut per round with localCheckpoint, same rationale as
  components.py: an iterative join otherwise compounds the plan.

Node count N is the only driver-side scalar (a single count()), taken
once before the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85  # probability of following an out-edge, else teleport


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 4,
) -> DataFrame:
    """Weighted PageRank; returns (node, rank).

    ``edges`` may carry duplicate (src, dst) rows — they are summed.
    With ``weight=None`` every edge counts 1. Fixed ``n_iter`` rounds
    (no convergence test: a tolerance check would force an action per
    round; production runs pick n_iter from the known spectral-gap
    bound, and a fixed count keeps the oracle SQL expressible).
    AQE plans the per-round joins from the observed sizes: a small
    graph broadcasts, a 10^9-node host graph shuffle-joins.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        # The edge build above is typically the expensive part (a fact-table
        # join collapsing to an O(hosts²)-bounded table); it is referenced
        # by nodes/trans/dangling AND once per iteration, so cut it once.
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Row-normalized transition probabilities: p(dst | src) = w / Σ_dst w.
    outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
    trans = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("tw")).alias("p")
    )
    # Dangling nodes contribute their whole rank back uniformly. The
    # membership flag is joined ONCE here and then carried through the
    # iterations on the rank vector itself, so the per-round dangling
    # mass is a map-side filtered aggregate — not a rank-vector-sized
    # join per iteration (measured 61s -> see BASELINE.md rehearsal).
    nodes = nodes.join(
        outw.select(F.col("src").alias("node")), "node", "left_anti"
    ).select("node", F.lit(True).alias("_dang")).unionByName(
        outw.select(F.col("src").alias("node"), F.lit(False).alias("_dang"))
    )
    # The single driver scalar; everything below is lazy.
    n = nodes.count()
    base = (1.0 - DAMPING) / n

    ranks = nodes.select("node", "_dang", F.lit(1.0 / n).alias("rank"))
    for i in range(n_iter):
        dmass = (
            ranks.where(F.col("_dang"))
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        contrib = (
            ranks.join(trans, ranks["node"] == trans["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dmass))
            .select(
                "node",
                "_dang",
                (
                    F.lit(base)
                    + F.lit(DAMPING)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dmass") / n)
                ).alias("rank"),
            )
        )
        # Cut lineage every round: the update references `ranks` twice
        # (dmass + contrib), so an uncut chain recomputes rank_{k-j} 2^j
        # times. Materializing the O(nodes) rank vector per round is the
        # standard distributed PageRank shape (GraphX does the same).
        if i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def pagerank_oracle_sql(
    edge_sql: str,
    *,
    n_iter: int = 4,
) -> str:
    """DuckDB twin of :func:`pagerank`: the power iteration unrolled as
    a CTE chain over ``edge_sql`` (which must yield src, dst, w).
    Mirrors the Spark op term for term — row-normalized transitions,
    uniform dangling redistribution, (1-d)/N teleport."""
    its = []
    for i in range(n_iter):
        prev = f"r{i}"
        its.append(
            f"""d{i} AS (
                SELECT COALESCE(SUM(r.rank), 0.0) AS dmass
                FROM {prev} r JOIN dangling USING (node)
            ), r{i + 1} AS (
                SELECT n.node,
                       (1.0 - {DAMPING}) / (SELECT cnt FROM nn)
                       + {DAMPING} * (
                           COALESCE((SELECT SUM(r.rank * t.p)
                                     FROM {prev} r
                                     JOIN trans t ON t.src = r.node
                                     WHERE t.dst = n.node), 0.0)
                           + (SELECT dmass FROM d{i}) / (SELECT cnt FROM nn)
                       ) AS rank
                FROM nodes n
            )"""
        )
    return f"""
        WITH raw_edges AS ({edge_sql}),
        edges AS (
            SELECT src, dst, SUM(w) AS w FROM raw_edges GROUP BY src, dst
        ),
        nodes AS (
            SELECT src AS node FROM edges
            UNION SELECT dst FROM edges
        ),
        nn AS (SELECT COUNT(*) AS cnt FROM nodes),
        outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
        trans AS (
            SELECT e.src, e.dst, e.w / o.tw AS p
            FROM edges e JOIN outw o ON e.src = o.src
        ),
        dangling AS (
            SELECT node FROM nodes
            WHERE node NOT IN (SELECT src FROM outw)
        ),
        r0 AS (
            SELECT node, 1.0 / (SELECT cnt FROM nn) AS rank FROM nodes
        ),
        {", ".join(its)}
        SELECT node, rank FROM r{n_iter}
    """
