"""Evaluation operators (reference script/evaluation_functions.py).

* blocking recall = |truth ∩ candidates| / |truth|  (:100-125)
* pruning rate    = 1 - candidates / (n(n-1)/2)     (:96-98, :39-44)
* missed-positive adjustment: blocker-missed positives appended with
  score 0 before PR metrics (:241-255)
* pairwise F1 at a threshold — the BASELINE.json >=0.99 gate, evaluated
  "at fixed blocking keys": truth is restricted to co-blocked pairs.

All set operations are joins/anti-joins on canonical (conv_id_a < conv_id_b)
pair keys; the truth table is small and broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAIR_KEY = ["conv_id_a", "conv_id_b"]


def blocking_recall(candidates: DataFrame, truth: DataFrame) -> float:
    """|truth ∩ candidates| / |truth| (evaluation_functions.py:100-125)."""
    n_truth = truth.count()
    if n_truth == 0:
        return 1.0
    surviving = truth.join(candidates, PAIR_KEY, "inner").count()
    return surviving / n_truth


def pruning_rate(n_candidates: int, n_entities: int) -> float:
    """1 - candidates / (n(n-1)/2) (evaluation_functions.py:96-98,39-44)."""
    max_pairs = n_entities * (n_entities - 1) / 2
    return 1.0 - n_candidates / max_pairs if max_pairs else 1.0


def missed_positive_adjustment(
    scored: DataFrame, truth: DataFrame
) -> DataFrame:
    """Append blocker-missed positives with score 0 / is_match 0 so PR
    metrics are honest about blocker misses (evaluation_functions.py:241-255)."""
    missed = (
        truth.join(scored.select(*PAIR_KEY), PAIR_KEY, "left_anti")
        .select(*PAIR_KEY)
        .withColumn("score", F.lit(0.0))
        .withColumn("is_match", F.lit(0))
    )
    return scored.select(*PAIR_KEY, "score", "is_match").unionByName(missed)


@dataclass
class PairwiseF1:
    tp: int
    fp: int
    fn: int
    precision: float
    recall: float
    f1: float


def pairwise_f1(
    predicted: DataFrame,
    truth: DataFrame,
    universe: DataFrame | None = None,
) -> PairwiseF1:
    """Pairwise match F1. If ``universe`` (the co-blocked candidate set) is
    given, truth is restricted to it — the "at fixed blocking keys"
    condition of BASELINE.json:metric."""
    pred = predicted.filter(F.col("is_match") == 1).select(*PAIR_KEY).distinct()
    t = truth.select(*PAIR_KEY).distinct()
    if universe is not None:
        t = t.join(universe.select(*PAIR_KEY).distinct(), PAIR_KEY, "inner")
    tp = pred.join(F.broadcast(t), PAIR_KEY, "inner").count()
    fp = pred.join(F.broadcast(t), PAIR_KEY, "left_anti").count()
    fn = t.join(pred, PAIR_KEY, "left_anti").count()
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return PairwiseF1(tp, fp, fn, precision, recall, f1)


def average_precision(scored: DataFrame, score_col: str = "score",
                      label_col: str = "y",
                      quantize: int | None = None) -> float:
    """Average precision = sum over positives of precision@rank, / n_pos —
    the distributed form of sklearn average_precision_score used per
    model/split in the reference (evaluation_functions.py:231-255).
    Ties broken pessimistically (label asc within equal scores) so
    duplicated scores don't inflate AP.

    Scale shape: one hash-aggregate collapses the table to (score, n, pos)
    groups, and only those GROUPS flow through the ordering window —
    never the row-level table (a global row_number over 27M scored pairs
    funnels everything through one task). Within a tie group of size n
    with p positives, the positives occupy global ranks
    cum_n-p+1 .. cum_n with cumulative-positive counts cum_p-p+1 .. cum_p,
    so the group's AP contribution is a closed-form JVM ``aggregate`` over
    ``sequence(1, p)`` — bit-identical to the row-level ranking.

    ``quantize``: round scores to 1/quantize before grouping, bounding the
    windowed group count for continuous scores (the pr_curve bucketization);
    None = exact AP on raw scores."""
    from pyspark.sql import Window

    s = F.col(score_col)
    if quantize is not None:
        s = F.floor(s * quantize) / quantize
    g = scored.groupBy(s.alias("_s")).agg(
        F.count("*").alias("n"), F.sum(label_col).alias("p")
    )
    w = Window.orderBy(F.desc("_s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = (
        g.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_p", F.sum("p").over(w))
        .filter(F.col("p") > 0)
    )
    agg = g.select(
        F.expr(
            "aggregate(sequence(1L, p), 0D,"
            " (acc, i) -> acc + (cum_p - p + i) / (cum_n - p + i))"
        ).alias("c"),
        F.col("p"),
    ).agg(F.sum("c").alias("s"), F.sum("p").alias("n")).collect()[0]
    return float(agg["s"] / agg["n"]) if agg["n"] else 0.0


def pr_curve(scored: DataFrame, n_buckets: int = 100) -> DataFrame:
    """Threshold sweep over bucketized scores -> (threshold, precision,
    recall) rows; average precision downstream. Distributed analogue of
    sklearn precision_recall_curve (evaluation_functions.py:231-255):
    one groupBy on the bucketized score, then a running-sum window."""
    from pyspark.sql import Window

    b = scored.withColumn(
        "bucket", F.floor(F.col("score") * n_buckets).cast("int")
    ).groupBy("bucket").agg(
        F.sum("y").alias("pos"), F.count("*").alias("n")
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total_pos = scored.agg(F.sum("y")).collect()[0][0] or 0
    return (
        b.withColumn("cum_pos", F.sum("pos").over(w))
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            (F.col("bucket") / n_buckets).alias("threshold"),
            (F.col("cum_pos") / F.col("cum_n")).alias("precision"),
            (F.col("cum_pos") / F.lit(max(total_pos, 1))).alias("recall"),
        )
    )
