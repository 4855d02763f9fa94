"""Bloom-filter semi-join reduction (runtime-filter pattern).

The reference prunes work by splicing IN-lists into generated SQL
(`cnics_to_fhir.py:123,140,156`) — viable only while the key set is tiny.
At 100 TB the dim-side key set of a selective join is often too large to
broadcast as an exact IN-list/hash set, but its *Bloom filter* is a few KiB
regardless of key count: build the filter over the dim keys (distributed
bit_or aggregation), ship the bitmap to every scan task, and drop fact rows
that cannot possibly join BEFORE the shuffle. The exact join afterwards
removes the false positives, so the result is byte-identical to the plain
join — which is what makes this operator oracle-checkable with ordinary
semi-join SQL.

This is the same plan shape Spark's own AQE runtime filters
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) inject; implementing
it explicitly makes the reduction available to DataFrame pipelines that
join through constructs the injection rule doesn't see (pre-aggregated or
unioned fact sides), and keeps the bitmap size/k fully under caller
control.

Everything is JVM-side codegen: positions come from ``xxhash64(seed, key)``,
the build side aggregates ``bit_or`` over word indexes (one shuffle of at
most ``m_bits/64`` groups), and the probe is ``k`` array lookups against a
broadcast literal array — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_BITS = 64


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """k deterministic bit positions in [0, m_bits) for a key."""
    return [F.pmod(F.xxhash64(F.lit(i), key), F.lit(m_bits)) for i in range(k)]


def _bit(pos: Column) -> Column:
    # pyspark's shiftleft() wrapper only takes a literal numBits; the SQL
    # function itself accepts a column — call it through the registry.
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (pos % WORD_BITS).cast("int")
    )


def build_bloom(keys: DataFrame, key_col: str, m_bits: int = 1 << 16, k: int = 3) -> list[int]:
    """Aggregate the build side into a dense ``m_bits``-bit bitmap.

    Runs as a distributed explode → groupBy(word) → bit_or; only
    ``m_bits/64`` (word, bits) rows ever reach the driver, independent of
    key count — the collect is O(filter size), not O(data).
    """
    n_words = m_bits // WORD_BITS
    pos = F.explode(F.array(*_positions(F.col(key_col), m_bits, k))).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / WORD_BITS).cast("int").alias("word_idx"),
            _bit(F.col("pos")).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for row in words:
        bitmap[row["word_idx"]] = row["bits"]
    return bitmap


def _sql_long(w: int) -> str:
    # -2^63 cannot be written as -(9223372036854775808L): the positive
    # literal overflows before the unary minus applies. CAST from the
    # decimal literal is exact and constant-folds at analysis.
    return f"{w}L" if w != -(1 << 63) else f"CAST({w} AS BIGINT)"


# Above this word count the rendered SQL text (~20 B/word) approaches the
# multi-MB range where ANTLR parse time/memory cliffs outweigh the py4j
# round-trips the single-parse path saves; fall back to F.lit's one-RPC-
# per-word construction, which never touches the SQL parser.  16k words
# = a 1 MiB filter; the default filter is 1k words.
BLOOM_SQL_LITERAL_MAX_WORDS = 1 << 14


def bloom_probe(key: Column, bitmap: list[int], m_bits: int, k: int = 3) -> Column:
    """True iff every one of the key's k bits is set — i.e. the key MIGHT be
    in the build set (no false negatives). The bitmap rides along as a
    literal array, broadcast with the task binary.

    The array is rendered as ONE SQL string for a single F.expr parse:
    ``F.lit(bitmap)`` issued one py4j round-trip per word (1,024 RPCs =
    ~1.3 s of driver wall per probe at the default 64 Kib filter;
    guide §5).  Above ``BLOOM_SQL_LITERAL_MAX_WORDS`` the SQL text itself
    becomes the hazard (multi-MB parse), so large filters take the
    F.lit path — same literal array either way."""
    if len(bitmap) > BLOOM_SQL_LITERAL_MAX_WORDS:
        words = F.lit([int(w) for w in bitmap])
    else:
        words = F.expr(
            "array(" + ", ".join(_sql_long(int(w)) for w in bitmap) + ")"
        )
    cond = F.lit(True)
    for pos in _positions(key, m_bits, k):
        word = F.element_at(words, (pos / WORD_BITS).cast("int") + 1)
        cond = cond & (word.bitwiseAND(_bit(pos)) != 0)
    return cond


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    m_bits: int = 1 << 16,
) -> DataFrame:
    """Semi-join ``fact`` to ``dim_keys`` with a Bloom pre-filter on the scan.

    Exactly equivalent to ``fact.join(dim_keys, key, "left_semi")`` — the
    Bloom stage only reduces how many fact rows reach the join shuffle
    (false positives are removed by the exact semi join). The filter build
    is one small driver round-trip, same pattern as an AQE runtime filter.
    """
    dim_key = dim_key or fact_key
    keys = dim_keys.select(F.col(dim_key).alias("__k")).dropDuplicates()
    bitmap = build_bloom(keys, "__k", m_bits)
    pruned = fact.filter(bloom_probe(F.col(fact_key), bitmap, m_bits))
    return pruned.join(
        keys.withColumnRenamed("__k", fact_key), on=fact_key, how="left_semi"
    )
