"""Two-table (ltable/rtable) blocking parity: the reference's primary mode
(reference script/blocking_algorithms.py:149-172 re-aligns lhs/rhs ids;
model_magellan_ml.py:183-193 always blocks Amazon x Google)."""

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators.blocking import (
    lsh_block,
    packed_two_table_pairs_from_block_keys,
    token_overlap_block,
    two_table_pairs_from_block_keys,
)

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


def test_packed_two_table_equals_unpacked(spark):
    """Round-5 verdict item #8: the packed two-table path (per-side dense
    ranks, single-int64 dedup exchange) must produce the identical
    oriented pair set and identical cap/stats semantics as the unpacked
    two-table join, including blocks oversized on exactly one side and
    ids appearing under many block keys (dedup load)."""
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
    for cap in (5, 200):
        pu, su = two_table_pairs_from_block_keys(kl, kr, block_cap=cap)
        pp, sp = packed_two_table_pairs_from_block_keys(kl, kr,
                                                        block_cap=cap)
        got_u = {(r["conv_id_a"], r["conv_id_b"]) for r in pu.collect()}
        got_p = {(r["conv_id_a"], r["conv_id_b"]) for r in pp.collect()}
        assert got_p == got_u
        # orientation: lhs ids only ever on the a side
        assert all(a.startswith("l") and b.startswith("r")
                   for a, b in got_p)
        assert (sp.total_blocks, sp.oversized_blocks,
                sp.dropped_memberships, sp.extra["n_pairs"]) == (
            su.total_blocks, su.oversized_blocks,
            su.dropped_memberships, su.extra["n_pairs"])
        sp.extra["packed_pairs"].unpersist()
        for m in (sp.extra["id_mapping_lhs"], sp.extra["id_mapping_rhs"]):
            m.unpersist()


def test_two_table_lsh_packed_strategy(fixture_small):
    """The packed two-table path on LSH band keys of both sides (the
    decontamination shape) matches the default two-table plan of
    lsh_block(signatures_rhs=...) at the LSH operating point."""
    from neural_entity_matching_spark.operators.blocking import lsh_band_keys

    transcripts, _, _ = fixture_small
    sigs = build_signatures(transcripts).cache()
    lhs = sigs.filter(~F.col("conv_id").rlike("-d[0-9]$")).cache()
    rhs = sigs.filter(F.col("conv_id").rlike("-d[0-9]$")).cache()
    p_def, s_def = lsh_block(lhs, block_cap=35, signatures_rhs=rhs, **LSH)
    p_pkd, s_pkd = packed_two_table_pairs_from_block_keys(
        lsh_band_keys(lhs, **LSH), lsh_band_keys(rhs, **LSH), block_cap=35,
        ids_lhs=lhs.select("conv_id"), ids_rhs=rhs.select("conv_id"))
    got_def = {(r["conv_id_a"], r["conv_id_b"]) for r in p_def.collect()}
    got_pkd = {(r["conv_id_a"], r["conv_id_b"]) for r in p_pkd.collect()}
    assert got_def and got_pkd == got_def
    assert s_pkd.extra["n_pairs"] == s_def.extra["n_pairs"]
    assert (s_pkd.total_blocks, s_pkd.oversized_blocks,
            s_pkd.dropped_memberships) == (
        s_def.total_blocks, s_def.oversized_blocks, s_def.dropped_memberships)
    p_def.unpersist()
    for h in ("packed_pairs", "id_mapping_lhs", "id_mapping_rhs"):
        s_pkd.extra[h].unpersist()


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


@pytest.mark.parametrize("pass_ids", [False, True])
def test_null_id_raises_on_packed_two_table(spark, pass_ids):
    # it used to fail the bijection check as "input ids contain duplicates"
    kl = spark.createDataFrame([("l1", 1), (None, 1), ("l2", 2)],
                               "conv_id string, block_key long")
    kr = spark.createDataFrame([("r1", 1), ("r2", 2)],
                               "conv_id string, block_key long")
    ids = {}
    if pass_ids:
        ids = dict(ids_lhs=kl.select("conv_id"), ids_rhs=kr.select("conv_id"))
    before = _persisted(spark)
    with pytest.raises(ValueError, match=r"^null input ids \(1 of 3 "):
        packed_two_table_pairs_from_block_keys(kl, kr, block_cap=5, **ids)
    assert _persisted(spark) == before
