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


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Repartition rows on a hash of ``(doc_id, offset)`` (deterministic, even).

    ``num_partitions``: fixed partition count, which AQE leaves alone.
    None: ``spark.sql.shuffle.partitions`` as a ceiling, coalesced by AQE.

    ``salt_buckets``: optional cap on the spread of one document's rows.
    When set, partitioning uses ``pmod(hash(doc_id, offset), salt_buckets)``
    so one doc lands on at most ``salt_buckets`` partitions — only
    useful when a downstream stage exploits per-doc locality; pick
    ``salt_buckets >> num_partitions`` or accept empty partitions.
    Default (None) spreads every row independently, which is the
    balanced choice for pure per-row UDF stages.

    Deterministic re-runs produce identical partition assignment (no
    ``rand()``), which the checkpoint/resume protocol relies on.
    """
    key = _salt_key(salt_buckets)
    if num_partitions is not None:
        return df.repartition(num_partitions, *key)
    return df.repartition(*key)


@per_context
def _salt_key(salt_buckets: int | None) -> tuple[Column, ...]:
    key = (F.col("doc_id"), F.col("offset"))
    if salt_buckets is not None:
        key = (F.pmod(F.hash(*key), F.lit(salt_buckets)),)
    return key
