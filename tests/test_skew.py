"""Skew machinery (SURVEY.md §7 risk 3, north rule): grouped pair
generation equals a per-block ``itertools.combinations`` oracle, a hot
block within the cap keeps all its pairs, caps drop mega blocks visibly;
adversarial hot-block fixture."""

from collections import defaultdict
from itertools import combinations

import pyspark.sql.functions as F

from neural_entity_matching_spark.operators.blocking import (
    grouped_pairs_from_block_keys,
)


def _hot_keys(spark, n_hot=120, n_normal=300):
    """Adversarial fixture: one mega block (n_hot members) + normal blocks."""
    hot = spark.range(n_hot).select(
        F.concat(F.lit("h"), F.col("id")).alias("conv_id"),
        F.lit("HOT").alias("block_key"),
    )
    normal = spark.range(n_normal).select(
        F.concat(F.lit("n"), F.col("id")).alias("conv_id"),
        F.concat(F.lit("blk"), (F.col("id") % 100)).alias("block_key"),
    )
    return hot.unionByName(normal)


def _oracle_pairs(keys, block_cap):
    """The reference's blocking on the driver: per block,
    ``itertools.combinations`` of its sorted members; blocks above the
    cap are dropped (blocking_algorithms.py:135-140 plus the cap)."""
    blocks = defaultdict(set)
    for r in keys.collect():
        blocks[r["block_key"]].add(r["conv_id"])
    return {
        pair
        for members in blocks.values() if len(members) <= block_cap
        for pair in combinations(sorted(members), 2)
    }


def _pair_set(pairs):
    return {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}


def _ids(keys):
    return keys.select("conv_id").distinct()


def test_grouped_keeps_hot_block_under_cap(spark):
    keys = _hot_keys(spark)
    expect = _oracle_pairs(keys, block_cap=1000)
    # hot pairs + C(3,2) per normal block
    assert len(expect) == 120 * 119 // 2 + 100 * 3
    pairs, stats = grouped_pairs_from_block_keys(keys, _ids(keys),
                                                 block_cap=1000)
    assert _pair_set(pairs) == expect
    assert stats.extra["n_pairs"] == len(expect)
    assert stats.oversized_blocks == 0
    pairs.unpersist()


def test_cap_drops_mega_block_visibly(spark):
    keys = _hot_keys(spark)
    expect = _oracle_pairs(keys, block_cap=50)
    assert len(expect) == 100 * 3  # only the normal blocks survive
    pairs, stats = grouped_pairs_from_block_keys(keys, _ids(keys),
                                                 block_cap=50)
    assert stats.oversized_blocks == 1
    assert stats.dropped_memberships == 120
    assert _pair_set(pairs) == expect
    pairs.unpersist()


def test_all_strategies_and_encodings_identical(spark):
    """grouped == the oracle pair set."""
    keys = _hot_keys(spark, n_hot=60, n_normal=200)
    expect = _oracle_pairs(keys, block_cap=80)
    assert expect  # non-trivial

    g, _ = grouped_pairs_from_block_keys(keys, _ids(keys), block_cap=80)
    assert _pair_set(g) == expect
    g.unpersist()


def test_grouped_physical_cap_fallback(spark):
    """Degenerate mega-block auto-fallback (round-5 verdict item #5): when
    a physical block exceeds physical_block_cap, the single-pass grouped
    blocker must rebuild through prune-before-collect — identical pair
    set and stats to the non-fallback run — and record the trigger."""
    keys = _hot_keys(spark)
    ids = _ids(keys)

    # fallback triggers (HOT's 120 members > physical cap 50); HOT still
    # capped out by block_cap like the normal path
    pf, sf = grouped_pairs_from_block_keys(keys, ids, block_cap=100,
                                           physical_block_cap=50)
    assert "prune-before-collect" in sf.extra["fallback"]
    pn, sn = grouped_pairs_from_block_keys(keys, ids, block_cap=100)
    assert "fallback" not in sn.extra
    assert _pair_set(pf) == _pair_set(pn)
    assert sf.extra["n_pairs"] == sn.extra["n_pairs"] == 100 * 3
    assert (sf.oversized_blocks, sf.dropped_memberships) == (
        sn.oversized_blocks, sn.dropped_memberships) == (1, 120)

    # cap/fallback events surface as queryable lineage rows (round-5
    # verdict item #6): the fallback trigger is folded into the event
    # name, the cap counters carry their values
    from neural_entity_matching_spark.plans.pipeline import _event_rows

    d = {event: value for *_, event, value
         in _event_rows("r", "candidates", "snap", sf)}
    assert d["oversized_blocks"] == 1 and d["dropped_memberships"] == 120
    fb = [e for e in d if e.startswith("fallback:")]
    assert len(fb) == 1 and "prune-before-collect" in fb[0] and d[fb[0]] == 1

    # fallback with the cap ABOVE the hot block: full pair set preserved
    pf2, sf2 = grouped_pairs_from_block_keys(keys, ids, block_cap=1000,
                                             physical_block_cap=50)
    pn2, sn2 = grouped_pairs_from_block_keys(keys, ids, block_cap=1000)
    s_f, s_n = _pair_set(pf2), _pair_set(pn2)
    assert s_f == s_n and len(s_f) == 120 * 119 // 2 + 100 * 3
