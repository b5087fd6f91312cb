"""Bloom-bitmap join pruning: a broadcastable prefilter for semi-joins.

The 100 TB problem this solves: a fact→dim semi-join where the dim key
set is too large to broadcast as an IN-list but its BLOOM FILTER is not
(m bits, fixed — 64 KiB here regardless of key count). Build the bitmap
with one aggregate over the dim keys, broadcast it, and drop most fact
rows BEFORE the shuffle of the exact join — Spark's own runtime-filter
pushdown (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does this
internally; this operator is the explicit, engine-replicable version
(md5-based positions, so a DuckDB oracle can verify the END RESULT:
Bloom filters have no false negatives, so prefilter + exact join ==
exact join, bit for bit — correctness is independent of the fp rate).

Design notes (reference has no analog; this is a scale extension):
  * bitmap = map<word -> 64-bit lane>, built sparse (absent word = 0)
    by one (distinct positions → groupBy word → bit_or) aggregate; the
    1-row map then rides a broadcast crossJoin (allowlisted 1-row BNLJ).
  * k hash positions per key from the repo's single md5_hash32 idiom
    (functions/text.py:28) with the "{seed}#" prefix convention shared
    with minhash (functions/dedup.py:86) — oracle-replicable.
  * membership test is pure Column bit algebra: word lookup + lane AND,
    whole-stage-codegen'd, no UDF.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(key: str, m_bits: int, k_hashes: int, dtype=None) -> list[Column]:
    """Hash positions over the CANONICAL string of column ``key``
    (canon_str when the dtype is known): a raw per-dtype cast would hash
    int 1 as '1' but double 1.0 as '1.0' — different positions, so a
    cross-type equi-join (which Spark coerces to a match) got FALSE
    NEGATIVES, breaking the no-false-negative contract."""
    from tada_spark.functions.text import md5_hash32
    from tada_spark.plans.semantics import canon_str

    k = canon_str(key, dtype) if dtype is not None else F.col(key).cast("string")
    return [
        F.pmod(md5_hash32(F.concat(F.lit(f"bloom{i}#"), k)), F.lit(m_bits)).cast("long")
        for i in range(k_hashes)
    ]


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """One-row frame holding the Bloom bitmap of ``keys[key_col]`` as a
    map<int word, long lane> (sparse: words with no bit set are absent
    and read as 0 at probe time). One explode + distinct + bit_or
    aggregate — work ∝ k·|keys|, output ≤ m_bits/64 entries."""
    pos = (
        # NULL keys carry no membership evidence (a semi-join never
        # matches NULL) and would put a NULL word into the map, which
        # map_from_entries rejects as a map key at runtime
        keys.filter(F.col(key_col).isNotNull())
        .select(
            F.explode(
                F.array(
                    *_positions(
                        key_col, m_bits, k_hashes,
                        dtype=keys.schema[key_col].dataType,
                    )
                )
            ).alias("pos")
        )
        .distinct()
        .select(
            F.shiftright(F.col("pos"), 6).cast("int").alias("word"),
            F.col("pos").bitwiseAND(F.lit(63)).alias("bit"),
        )
    )
    lanes = pos.groupBy("word").agg(
        F.bit_or(F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bit"))).alias("lane")
    )
    return lanes.groupBy().agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("word", "lane")))
        ).alias("__bloom__")
    )


def bloom_might_contain(
    bloom_map: Column, key: str, *, m_bits: int = 1 << 16, k_hashes: int = 4, dtype=None
) -> Column:
    """True iff every one of column ``key``'s k bits is set — the standard
    no-false-negative Bloom test, as codegen-able Column algebra. Pass
    ``dtype`` so the probe hashes the same canonical string the bitmap
    side used (cross-type join keys)."""
    tests = []
    for pos in _positions(key, m_bits, k_hashes, dtype=dtype):
        lane = F.coalesce(
            F.element_at(bloom_map, F.shiftright(pos, 6).cast("int")), F.lit(0).cast("long")
        )
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), pos.bitwiseAND(F.lit(63)))
        tests.append(lane.bitwiseAND(mask) != 0)
    return reduce(lambda a, b: a & b, tests)


def bloom_prefilter(
    fact: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    *,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Drop fact rows whose key cannot be in the dim set. The surviving
    superset still needs the exact join (false positives pass); rows
    with a NULL key are dropped (a semi-join never matches NULL)."""
    return (
        fact.filter(F.col(key_col).isNotNull())
        .crossJoin(F.broadcast(bitmap))
        .filter(
            bloom_might_contain(
                F.col("__bloom__"), key_col, m_bits=m_bits, k_hashes=k_hashes,
                dtype=fact.schema[key_col].dataType,
            )
        )
        .drop("__bloom__")
    )
