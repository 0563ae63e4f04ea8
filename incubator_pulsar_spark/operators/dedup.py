"""Message deduplication.

Reference: broker-side per-producer sequence-id tracking
(``broker/service/persistent/MessageDeduplication.java:110-115`` —
highestSequencedPushed / highestSequencedPersisted maps; a message whose
sequence_id ≤ the highest seen for its producer is dropped, :186-187),
snapshotted every N entries (:142).

Spark-first batch semantics: a message survives iff its sequence_id is
NULL or strictly greater than every sequence_id that arrived *before* it
(in publish order) from the same producer. That is a running-max window —
one shuffle by producer, sort within partitions only (window function),
no global sort.

Scale: partitions by producer_name (bounded cardinality in practice —
producers, not keys), running max is O(1) state per row. For streams,
``dedup_stream`` keeps max-seq-per-producer in the state store, which is
exactly the reference's in-memory map + snapshot (the state store
checkpoint replaces the snapshot ledger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_by_sequence(
    df: DataFrame,
    *,
    producer_col: str = "producer_name",
    sequence_id_col: str = "sequence_id",
    arrival_col: str = "sequence",
) -> DataFrame:
    """Drop rows whose sequence_id regressed for their producer.

    MessageDeduplication.java:186 — ``sequenceId <= highestSequencedPushed``
    ⇒ duplicate. The first row of each producer always survives, and so
    does a row with a NULL sequence_id: with no id it cannot be judged a
    duplicate, and it leaves the producer's high-water mark as it was
    (the rule of ``streaming.dedup.dedup_step``).
    """
    w = (
        Window.partitionBy(producer_col)
        .orderBy(F.col(arrival_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(F.col(sequence_id_col)).over(w)
    return (
        df.withColumn("_prev_max", prev_max)
        .filter(F.col(sequence_id_col).isNull() | F.col("_prev_max").isNull()
                | (F.col(sequence_id_col) > F.col("_prev_max")))
        .drop("_prev_max")
    )


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate elimination (hash groupBy) — dropDuplicates.

    Scale: one shuffle on the subset hash; with AQE the reduce side
    coalesces. For very wide rows prefer hashing a fingerprint column
    first (functions/fuzzy.py: fingerprint) so the shuffle carries 16
    bytes per row, not the payload.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()
