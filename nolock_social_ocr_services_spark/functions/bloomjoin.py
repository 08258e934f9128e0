"""Deterministic Bloom-filter join pre-filtering.

The classic big-join optimization: summarize the SMALL side's join keys
into a fixed-size Bloom filter, broadcast it, and drop big-side rows
that cannot possibly match BEFORE they reach the exchange — at 100 TB
the win is that non-matching rows never shuffle (Spark's own
runtime-bloom rewrite, `spark.sql.optimizer.runtime.bloomFilter.enabled`,
does exactly this; the variant here is explicit and deterministic so
the DuckDB oracle reproduces the pass/drop decision bit-for-bit).

Semantics: a Bloom filter has NO false negatives, so the pre-filter is
sound — every matching row survives. False positives pass the filter
and are removed by the exact join that follows; correctness never
depends on the filter, only the shuffled volume does.

Determinism contract: h positions per key via the shared md5-based
``hash60`` (j-salted), modulo ``m_bits``. The filter is represented as
the SORTED ARRAY OF SET BIT POSITIONS (broadcast literal, <= m_bits
ints) rather than packed words — identical semantics, and membership
stays in codegen'd ``array_contains`` instead of column-indexed bit
shifts (Spark's shift builtins take literal shift amounts only). A
production deployment at large m would pack words via ``bit_or`` aggs
or use the native runtime bloom; m is the tunable either way.

Scale shape: building the filter is one map-side position projection +
one DISTINCT bounded by m (<= m rows ever shuffle), then a driver
collect of <= m ints — the same bounded-collect contract as the
k-means centroid fetch. The probe side is a scan-speed filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sampling import hash60

#: default filter size (bits) and hash count. FPR ~ (1 - e^(-h*n/m))^h:
#: at n=64 keys, m=1024, h=3 -> ~0.5% false positives.
BLOOM_M_BITS = 1024
BLOOM_H = 3


def bloom_positions(key: Column, m_bits: int = BLOOM_M_BITS, h: int = BLOOM_H):
    """The h bit positions a key sets/probes: j-salted 60-bit md5 hash
    modulo m. Oracle twin: ('0x' || substr(md5('j:' || CAST(k AS
    VARCHAR)), 1, 15))::UBIGINT % m."""
    return [
        hash60(F.concat(F.lit(f"{j}:"), key.cast("string"))) % m_bits
        for j in range(h)
    ]


def build_bloom(
    df: DataFrame,
    key_col: str,
    m_bits: int = BLOOM_M_BITS,
    h: int = BLOOM_H,
) -> list[int]:
    """Driver-side filter build from the SMALL side: the sorted distinct
    bit positions its keys set. Bounded: at most m_bits rows cross the
    wire regardless of key count."""
    pos = df.select(
        F.explode(
            F.array(*bloom_positions(F.col(key_col), m_bits, h))
        ).alias("p")
    ).distinct()
    return sorted(r.p for r in pos.collect())


def bloom_contains(
    key: Column,
    positions: list[int],
    m_bits: int = BLOOM_M_BITS,
    h: int = BLOOM_H,
) -> Column:
    """Membership predicate: every probe position of ``key`` is set.
    Pure codegen (array_contains over a broadcast literal array)."""
    lit_pos = F.array(*[F.lit(int(p)) for p in positions])
    cond = None
    for p in bloom_positions(key, m_bits, h):
        term = F.array_contains(lit_pos, p)
        cond = term if cond is None else cond & term
    return cond
