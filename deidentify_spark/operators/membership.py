"""Distributed Bloom-filter membership for incremental corpus dedup.

``exact_dedup_incremental`` (operators/dedup.py) anti-joins each new
crawl slice against the full stored content-hash table — correct, but at
10^12 processed docs the store side is the whole corpus history and the
anti-join reads it every batch. A Bloom filter inverts the economics:
the history compresses into a bitmap (m=2^33 bits ≈ 1 GB covers 10^9
hashes at ~2% FP with k=3), the common "definitely new" case is decided
against broadcast state with NO join against history, and only the
``maybe_seen`` minority (true dups + FP%) goes to the exact anti-join.

Representation: a DataFrame of (word_idx BIGINT, word BIGINT) — 32-bit
words, so bit values stay positive and the construction replicates
byte-for-byte in DuckDB (1<<63 overflows a signed BIGINT there; 32-bit
words sidestep the two's-complement edge on both engines). Positions are
md5-hex-prefix hashes (the repo-wide DuckDB-replicable hashing scheme,
see operators/dedup._hash60).

Everything is JVM Column work: build is explode -> one groupBy(bit_or)
shuffle of (k x n) longs; probe packs the bitmap into ONE map row,
broadcasts it, and evaluates all k lookups per doc inside a `forall`
lambda — zero shuffle, zero Python. For m beyond broadcast comfort
(~2^30 bits = 128 MB packed), ``bloom_maybe_seen_join`` probes via
explode + equi-join on word_idx instead (same build artifact, same
results — equivalence pinned in tests). Scala/Spark's own
``DataFrameStatFunctions.bloomFilter`` has no PySpark surface and its
bitmap is opaque to SQL engines — this keeps the filter queryable,
mergeable (union builds + re-bit_or), and oracle-checkable.

No false negatives by construction: every build-set doc probes
maybe_seen=true (pinned in tests); false-positive rate follows the
standard (1 - e^{-kn/m})^k estimate, exposed by ``bloom_fp_estimate``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deidentify_spark.operators.dedup import _hash60

_WORD_BITS = 32


def _hash_pos(col: Column, i: int, m_bits: int) -> Column:
    """Position of hash function ``i`` for a value — 60-bit md5-hex
    prefix of the salted value, mod m (DuckDB twin:
    ('0x'||substr(md5(x||':b{i}'),1,15))::BIGINT % m)."""
    return F.pmod(_hash60(F.concat(col, F.lit(f":b{i}"))), F.lit(m_bits))


def _positions_array(col: Column, k: int, m_bits: int) -> Column:
    return F.array(*[_hash_pos(col, i, m_bits) for i in range(k)])


def bloom_build(
    df: DataFrame,
    col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Build the (word_idx, word) bitmap table from a corpus slice.

    One explode of k positions per row -> one groupBy(bit_or) shuffle of
    longs. Output has at most m_bits/32 rows regardless of corpus size;
    incremental maintenance = build the new slice and re-bit_or the
    union with the stored table (same shape, associative).
    """
    pos = _positions_array(F.col(col), k, m_bits)
    return (
        df.select(F.explode(pos).alias("pos"))
        .groupBy(F.expr(f"shiftright(pos, 5)").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {_WORD_BITS}) AS INT))"
                )
            ).alias("word")
        )
    )


def bloom_maybe_seen(
    df: DataFrame,
    bloom: DataFrame,
    col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 3,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Annotate each row: could ``col`` be in the set the filter was
    built from? false => DEFINITELY new (no false negatives).

    The bitmap packs into one map<bigint,bigint> row broadcast to every
    task; the k probes run inside a single `forall` over the position
    array — pure JVM expressions, no shuffle, no per-doc join. Suitable
    while the packed map broadcasts comfortably (~m <= 2^30 bits); see
    module docstring for the giant-m join variant.
    """
    packed = bloom.groupBy().agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("word_idx", "word")))
        ).alias("_bloom_map")
    )
    pos = _positions_array(F.col(col), k, m_bits)
    # bit test without shift-by-column (not expressible in a HOF lambda):
    # precomputed 32-entry power-of-two literal array, indexed by pos%32
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(_WORD_BITS)])

    def present(p: Column) -> Column:
        word = F.coalesce(
            F.element_at(F.col("_bloom_map"), F.floor(p / _WORD_BITS).cast("long")),
            F.lit(0).cast("long"),
        )
        bit = F.element_at(pow2, F.pmod(p, _WORD_BITS).cast("int") + 1)
        return word.bitwiseAND(bit) != 0

    return (
        df.crossJoin(F.broadcast(packed))
        # NULL input => NULL (membership of NULL is unknown) — stated
        # explicitly so both probe variants agree byte-for-byte; the
        # forall over an all-NULL position array happens to yield NULL
        # too, but the join variant would not without its own guard.
        .withColumn(
            out_col,
            F.when(F.col(col).isNull(), F.lit(None).cast("boolean")).otherwise(
                F.forall(pos, present)
            ),
        )
        .drop("_bloom_map")
    )


def bloom_maybe_seen_join(
    df: DataFrame,
    bloom: DataFrame,
    col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 3,
    id_col: str = "doc_id",
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Giant-m probe: same semantics as bloom_maybe_seen, for bitmaps
    too large to pack into one broadcast map (~m > 2^30 bits / 128 MB
    packed — e.g. m=2^33 ≈ 1 GB covering 10^9 hashes).

    Shape: explode the k positions (k longs per row), equi-join the
    bitmap table on word_idx (AQE picks broadcast while the bitmap is
    small and sort-merge once it isn't — the join key is uniform by
    construction, so no skew), per-position bit test, then one
    map-side-combinable groupBy(id) bool_and joined back to the input.
    Equivalence with the broadcast-map probe is pinned in tests.
    """
    pos = _positions_array(F.col(col), k, m_bits)
    probes = df.select(id_col, F.explode(pos).alias("pos")).select(
        id_col,
        "pos",
        F.expr("shiftright(pos, 5)").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {_WORD_BITS}) AS INT))"
        ).alias("bit"),
    )
    hits = (
        probes.join(bloom, "word_idx", "left")
        .groupBy(id_col)
        .agg(
            F.min(
                (F.col("word").isNotNull())
                & (F.col("word").bitwiseAND(F.col("bit")) != 0)
            ).alias(out_col)
        )
    )
    # NULL input => NULL, matching bloom_maybe_seen (a NULL value's
    # positions are all NULL, so the join would otherwise report a
    # confident false).
    return df.join(hits, id_col, "left").withColumn(
        out_col,
        F.when(F.col(col).isNull(), F.lit(None).cast("boolean")).otherwise(
            F.col(out_col)
        ),
    )


def bloom_fp_estimate(n_items: int, m_bits: int, k: int) -> float:
    """Standard Bloom FP estimate (1 - e^{-kn/m})^k."""
    return (1.0 - math.exp(-k * n_items / m_bits)) ** k


def bloom_oracle_sql(
    table: str,
    build_where: str,
    m_bits: int = 1 << 20,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of bloom_build + bloom_maybe_seen over ``table``:
    build from the rows matching ``build_where``, probe every row."""
    pos = lambda i: (
        f"(('0x'||substr(md5({text_col}||':b{i}'),1,15))::BIGINT % {m_bits})"
    )
    build_union = "\nUNION ALL\n".join(
        f"SELECT {pos(i)} AS pos FROM {table} WHERE {build_where}" for i in range(k)
    )
    probe_union = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {pos(i)} AS pos FROM {table}" for i in range(k)
    )
    return f"""
        WITH bloom_words AS (
            SELECT (pos >> 5) AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % {_WORD_BITS} AS INT)) AS word
            FROM ({build_union})
            GROUP BY 1
        ),
        probes AS ({probe_union})
        SELECT p.{id_col},
               -- NULL value => NULL pos => CASE yields NULL, bool_and
               -- skips NULLs, and an all-NULL group aggregates to NULL
               -- (matching the Spark probes' NULL-input semantics)
               bool_and(CASE WHEN p.pos IS NULL THEN NULL
                        ELSE w.word IS NOT NULL AND
                             (w.word & (1::BIGINT << CAST(p.pos % {_WORD_BITS} AS INT))) <> 0
                        END
               ) AS maybe_seen
        FROM probes p
        LEFT JOIN bloom_words w ON (p.pos >> 5) = w.word_idx
        GROUP BY p.{id_col}
        ORDER BY p.{id_col}
    """
