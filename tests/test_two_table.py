"""Two-table (ltable/rtable) blocking parity: the reference's primary mode
(reference script/blocking_algorithms.py:149-172 re-aligns lhs/rhs ids;
model_magellan_ml.py:183-193 always blocks Amazon x Google)."""

from collections import defaultdict

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators.blocking import (
    lsh_block,
    token_overlap_block,
    two_table_pairs_from_block_keys,
)
from neural_entity_matching_spark.operators.dedup import cross_corpus_dedup

LSH = dict(num_hashes=128, bands=64, char_ngram=8, seed=42)


def test_two_table_lsh_pair_shape(fixture_small):
    """lhs = base conversations, rhs = duplicate variants: every pair is
    cross-side with preserved orientation, no intra-table pairs, and the
    cross-side true dup pairs are found (recall on lhs-rhs labeled pairs)."""
    transcripts, labeled, _ = fixture_small
    sigs = build_signatures(transcripts).cache()
    lhs = sigs.filter(~F.col("conv_id").rlike("-d[0-9]$")).cache()
    rhs = sigs.filter(F.col("conv_id").rlike("-d[0-9]$")).cache()
    pairs, stats = lsh_block(lhs, block_cap=35, signatures_rhs=rhs, **LSH)
    rows = pairs.collect()
    assert rows and stats.extra["n_pairs"] == len(rows)

    lhs_ids = {r[0] for r in lhs.select("conv_id").collect()}
    rhs_ids = {r[0] for r in rhs.select("conv_id").collect()}
    for r in rows:
        assert r["conv_id_a"] in lhs_ids, r
        assert r["conv_id_b"] in rhs_ids, r

    # cross-side labeled dups (base, dup-variant) must be found: the same
    # frozen blocking keys give recall 1.0 in self-join mode, and the
    # two-table join sees the same band collisions
    cross_truth = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in labeled.collect()
        if (r["conv_id_a"] in lhs_ids) != (r["conv_id_b"] in lhs_ids)
    }
    oriented = {
        (a, b) if a in lhs_ids else (b, a) for a, b in cross_truth
    }
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in rows}
    assert oriented <= got


def test_two_table_generic_keys_cap_and_stats(spark):
    """Per-side cap semantics: a block oversized on ONE side drops."""
    rows_l = [(f"l{i}", "hot") for i in range(6)] + [("l9", "cold")]
    rows_r = [(f"r{i}", "hot") for i in range(3)] + [("r9", "cold")]
    kl = spark.createDataFrame(rows_l, ["conv_id", "block_key"])
    kr = spark.createDataFrame(rows_r, ["conv_id", "block_key"])
    pairs, stats = two_table_pairs_from_block_keys(kl, kr, block_cap=5)
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}
    # 'hot' has 6 lhs members > cap -> dropped; 'cold' pairs survive
    assert got == {("l9", "r9")}
    assert stats.oversized_blocks == 1
    assert stats.dropped_memberships == 9
    assert stats.extra["n_pairs"] == 1


def test_two_table_token_overlap_orientation(spark):
    lhs = spark.createDataFrame(
        [("a1", "alpha beta gamma"), ("a2", "zeta eta theta")],
        ["conv_id", "sig_text"],
    )
    rhs = spark.createDataFrame(
        [("b1", "alpha beta delta"), ("b2", "iota kappa mu")],
        ["conv_id", "sig_text"],
    )
    pairs, _ = token_overlap_block(lhs, min_shared_tokens=2,
                                   signatures_rhs=rhs)
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}
    assert got == {("a1", "b1")}


def _cross_product_oracle(rows_l, rows_r, block_cap):
    """The reference's two-table blocking on the driver: per block, every
    lhs x rhs member pair; a block above the cap on either side drops."""
    blocks = defaultdict(lambda: (set(), set()))
    for side, rows in ((0, rows_l), (1, rows_r)):
        for conv_id, key in rows:
            blocks[key][side].add(conv_id)
    return {
        (a, b)
        for lhs, rhs in blocks.values()
        if len(lhs) <= block_cap and len(rhs) <= block_cap
        for a in lhs for b in rhs
    }


def test_two_table_equals_cross_product_oracle(spark):
    """Two-table pairs equal a per-block lhs x rhs cross product, oriented
    lhs -> rhs, with a block oversized on exactly one side and ids under
    several block keys (the pair dedup's load)."""
    rows_l = (
        [(f"l{i}", "hot") for i in range(6)]
        + [("l9", "cold"), ("l10", "cold"), ("l9", "warm"), ("l10", "warm")]
    )
    rows_r = (
        [(f"r{i}", "hot") for i in range(3)]
        + [("r9", "cold"), ("r9", "warm"), ("r10", "warm")]
    )
    kl = spark.createDataFrame(rows_l, ["conv_id", "block_key"])
    kr = spark.createDataFrame(rows_r, ["conv_id", "block_key"])
    for cap, over in ((5, 1), (200, 0)):
        pairs, stats = two_table_pairs_from_block_keys(kl, kr, block_cap=cap)
        got = [(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()]
        expect = _cross_product_oracle(rows_l, rows_r, cap)
        assert len(got) == len(set(got)) == stats.extra["n_pairs"]
        assert set(got) == expect
        assert (stats.total_blocks, stats.oversized_blocks,
                stats.dropped_memberships) == (3, over, 9 * over)
        pairs.unpersist()


LHS = [("a1", "hello there how can i help you today with your order"),
       ("a2", "the parcel left the depot on monday and arrives soon")]
RHS = [("b1", "hello there how can i help you today with your order"),
       ("b2", "the parcel left the depot on monday and arrives soon!")]
NULL_ID = [(None, "hello there how can i help you today with your order")]


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("side", ["lhs", "rhs"])
def test_null_id_raises_on_two_table_lsh(spark, side):
    # a null id used to pair as (None, b) with every rhs doc it shares a
    # block with, next to the real pairs
    def sigs(rows):
        return spark.createDataFrame(rows, "conv_id string, sig_text string")

    lhs = LHS + (NULL_ID if side == "lhs" else [])
    rhs = RHS + (NULL_ID if side == "rhs" else [])
    before = _persisted(spark)
    with pytest.raises(ValueError, match=r"^null input ids \(1 of 3 "):
        lsh_block(sigs(lhs), block_cap=35, signatures_rhs=sigs(rhs), **LSH)
    assert _persisted(spark) == before


@pytest.mark.parametrize("side", ["lhs", "rhs"])
def test_null_id_raises_on_cross_corpus_dedup(spark, side):
    def docs(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    lhs = LHS + (NULL_ID if side == "lhs" else [])
    rhs = RHS + (NULL_ID if side == "rhs" else [])
    before = _persisted(spark)
    with pytest.raises(ValueError, match=r"^null input ids \(1 of 3 "):
        cross_corpus_dedup(docs(lhs), docs(rhs), block_cap=5)
    assert _persisted(spark) == before


@pytest.mark.parametrize("max_token_df", [1000, None])
@pytest.mark.parametrize("mode", ["self", "two_table"])
def test_null_id_raises_on_token_overlap(spark, mode, max_token_df):
    # two-table mode used to return (None, 'b1') next to ('a1', 'b1');
    # self mode silently dropped the null-id doc's pair
    def sigs(rows):
        return spark.createDataFrame(rows, "conv_id string, sig_text string")

    if mode == "self":
        lhs, rhs = LHS + RHS[:1] + NULL_ID, None
    else:
        lhs, rhs = LHS + NULL_ID, sigs(RHS)
    with pytest.raises(ValueError, match=r"^null input ids"):
        token_overlap_block(sigs(lhs), min_shared_tokens=2,
                            max_token_df=max_token_df, signatures_rhs=rhs)
