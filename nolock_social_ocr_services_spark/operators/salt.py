"""Salted repartitioning to defuse large-document skew.

The reference never sees skew — each HTTP request is one document
(Program.cs:79-100) and Rx ``Merge(4)`` load-balances requests. Exploding
``documents.spans`` concentrates a giant document's spans in one task, so
we repartition on a hash of ``(doc_id, offset)``; the spans of one
document then spread across the full partition range and the UDF compute
is balanced. AQE only re-splits *shuffle/join* skew, not UDF-compute
skew, hence the explicit repartition (SURVEY.md §4 custom strategy #1).

Why hash the row key directly instead of a K-valued salt column:
``repartition(P, salt)`` with a K-valued salt hashes K values into P
buckets — for K ≈ P that leaves ~1/e of partitions EMPTY and others
with 2-3 salt values (birthday collisions), a 2-3× straggler tail that
caps scaling at high core counts. Hashing ``(doc_id, offset)`` makes
every row its own key, so partition sizes converge to uniform (binomial
with n=rows, not n=K) while staying fully deterministic.

Order is restored afterwards by :mod:`.reassemble` (``array_sort`` of
each document's collected spans by ``offset``), which is why
span-spreading is safe for the span-sequence invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import per_context


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Repartition rows on a hash of ``(doc_id, offset)`` (deterministic, even).

    ``num_partitions``: fixed partition count, which AQE leaves alone.
    None: ``spark.sql.shuffle.partitions`` as a ceiling, coalesced by AQE.

    Every row is spread independently, the balanced choice for the
    per-row UDF stages that follow. Deterministic re-runs produce
    identical partition assignment (no ``rand()``), which the
    checkpoint/resume protocol relies on.
    """
    key = _salt_key()
    if num_partitions is not None:
        return df.repartition(num_partitions, *key)
    return df.repartition(*key)


@per_context
def _salt_key() -> tuple[Column, ...]:
    return (F.col("doc_id"), F.col("offset"))
