"""Text normalization + per-conversation signature build.

Normalization (reference F9): the reference's data arrives pre-lowercased
and distances are computed over plain column concatenation
(reference script/utilities.py:19-20); we define the op once, JVM-side.

Signature build: the reference's input is already one-row-per-entity; our
input is one-row-per-turn, so the entity signature is the concatenation of
normalized turn text in stable ``turn_idx`` order. The per-row invariant
from BASELINE.json — per-turn text equality under stable turn ordering —
pins the implementation: ``array_sort(collect_list(struct(turn_idx, text)))``;
never a bare ``collect_list`` (Spark guarantees no intra-group order).

Everything here is built-in pyspark.sql.functions — whole-stage codegen,
no Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """lower + trim + collapse whitespace. THE normalization op (F9)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def build_signatures(transcripts: DataFrame) -> DataFrame:
    """One row per conv_id: (conv_id, sig_text, n_turns).

    sig_text = normalized turn texts joined by a single space, ordered by
    turn_idx. The sort key rides inside the collected struct, so the result
    is partition-order-invariant (the invariant test shuffles input
    partitions and asserts byte-equality).

    Scale: one hash-aggregate shuffle on conv_id. At 10^12 turns this is
    the pipeline's first and biggest shuffle; conv_id is near-uniform
    (bucket-partitioned upstream) so no salting is needed here.
    """
    return (
        transcripts
        .select(
            "conv_id",
            F.struct(
                F.col("turn_idx").alias("turn_idx"),
                normalize_text(F.col("text")).alias("text"),
            ).alias("turn"),
        )
        .groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list("turn")).alias("turns"),
        )
        .select(
            "conv_id",
            F.concat_ws(
                " ", F.transform(F.col("turns"), lambda t: t["text"])
            ).alias("sig_text"),
            F.size("turns").cast("int").alias("n_turns"),
        )
    )

