"""Skew machinery (SURVEY.md §7 risk 3, north rule): salted pair join ==
unsalted pair join, with per-task work actually spread; caps drop mega
blocks visibly; adversarial hot-block fixture."""

import pyspark.sql.functions as F

from neural_entity_matching_spark.operators.blocking import (
    pairs_from_block_keys,
    salted_pairs_from_block_keys,
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


def test_salted_equals_unsalted(spark):
    keys = _hot_keys(spark)
    plain, s1 = pairs_from_block_keys(keys, block_cap=1000)
    salted, s2 = salted_pairs_from_block_keys(keys, block_cap=1000, salt=8)
    p = {(r["conv_id_a"], r["conv_id_b"]) for r in plain.collect()}
    q = {(r["conv_id_a"], r["conv_id_b"]) for r in salted.collect()}
    assert p == q
    assert len(p) == 120 * 119 // 2 + 100 * 3  # hot pairs + C(3,2) per normal blk


def test_packed_equals_grouped(spark):
    """Packed single-long pair generation (dense ids) produces exactly the
    unsalted pair set after decoding through its id mapping, with
    identical cap/stats semantics."""
    from neural_entity_matching_spark.operators.blocking import (
        packed_pairs_from_block_keys,
    )

    keys = _hot_keys(spark)
    plain, s1 = pairs_from_block_keys(keys, block_cap=100)  # cap drops HOT
    packed, s2 = packed_pairs_from_block_keys(keys, block_cap=100)
    m = s2.extra["id_mapping"]
    decoded = (
        packed
        .join(m.select(F.col("iid").alias("conv_id_a"),
                       F.col("_id").alias("_ida")), "conv_id_a")
        .join(m.select(F.col("iid").alias("conv_id_b"),
                       F.col("_id").alias("_idb")), "conv_id_b")
        .select(F.least("_ida", "_idb").alias("conv_id_a"),
                F.greatest("_ida", "_idb").alias("conv_id_b"))
    )
    p = {(r["conv_id_a"], r["conv_id_b"]) for r in plain.collect()}
    q = {(r["conv_id_a"], r["conv_id_b"]) for r in decoded.collect()}
    assert p == q and len(p) == 100 * 3
    assert s2.oversized_blocks == s1.oversized_blocks == 1
    assert s2.dropped_memberships == s1.dropped_memberships == 120
    assert s2.extra["n_pairs"] == len(p)
    # dense ids are a permutation of 0..n-1 (rank encoding, no collisions)
    ids = sorted(r["iid"] for r in m.collect())
    assert ids == list(range(len(ids)))
    m.unpersist()
    s2.extra["packed_pairs"].unpersist()


def test_packed_physical_cap_fallback(spark):
    """Degenerate mega-block auto-fallback (round-5 verdict item #5): when
    a physical block exceeds physical_block_cap, the packed strategy must
    rebuild through prune-before-collect and still produce the identical
    pair set and stats as the non-fallback run."""
    from neural_entity_matching_spark.operators.blocking import (
        packed_pairs_from_block_keys,
    )

    keys = _hot_keys(spark)  # HOT block: 120 members

    def decoded_set(packed, stats):
        m = stats.extra["id_mapping"]
        rows = (
            packed
            .join(m.select(F.col("iid").alias("conv_id_a"),
                           F.col("_id").alias("_ida")), "conv_id_a")
            .join(m.select(F.col("iid").alias("conv_id_b"),
                           F.col("_id").alias("_idb")), "conv_id_b")
            .select(F.least("_ida", "_idb").alias("a"),
                    F.greatest("_ida", "_idb").alias("b"))
            .collect()
        )
        m.unpersist()
        stats.extra["packed_pairs"].unpersist()
        return {(r["a"], r["b"]) for r in rows}

    # fallback triggers (HOT's 120 members > physical cap 50); HOT still
    # capped out by block_cap like the normal path
    pf, sf = packed_pairs_from_block_keys(keys, block_cap=100,
                                          physical_block_cap=50)
    assert "prune-before-collect" in sf.extra["fallback"]
    pn, sn = packed_pairs_from_block_keys(keys, block_cap=100)
    assert "fallback" not in sn.extra
    assert decoded_set(pf, sf) == decoded_set(pn, sn)
    assert sf.extra["n_pairs"] == sn.extra["n_pairs"] == 100 * 3
    assert (sf.oversized_blocks, sf.dropped_memberships) == (
        sn.oversized_blocks, sn.dropped_memberships) == (1, 120)
    # fallback with the cap ABOVE the hot block: pair sets must also match
    pf2, sf2 = packed_pairs_from_block_keys(keys, block_cap=1000,
                                            physical_block_cap=50)
    pn2, sn2 = packed_pairs_from_block_keys(keys, block_cap=1000)
    s_f, s_n = decoded_set(pf2, sf2), decoded_set(pn2, sn2)
    assert s_f == s_n and len(s_f) == 120 * 119 // 2 + 100 * 3

    # cap/fallback events surface as queryable lineage rows (round-5
    # verdict item #6): the fallback trigger is folded into the event
    # name, the cap counters carry their values
    from neural_entity_matching_spark.plans.pipeline import _event_rows

    d = {event: value for *_, event, value
         in _event_rows("r", "candidates", "snap", sf)}
    assert d["oversized_blocks"] == 1 and d["dropped_memberships"] == 120
    fb = [e for e in d if e.startswith("fallback:")]
    assert len(fb) == 1 and "prune-before-collect" in fb[0] and d[fb[0]] == 1


def test_dense_id_mapping_bijection_multi_partition(spark):
    """Rank assignment must be a bijection 0..n-1 over MANY partitions —
    regression for the double-evaluation hazard where the offsets pass and
    the rank pass saw different sampled range bounds and assigned
    duplicate iids (observed at 176k ids before the mapping pinned one
    materialized partitioning)."""
    import pyspark.sql.functions as F2

    from neural_entity_matching_spark.operators.blocking import (
        dense_id_mapping,
    )

    n = 50000
    ids = spark.range(n).select(
        F2.md5(F2.col("id").cast("string")).alias("_id"))
    m = dense_id_mapping(ids, partitions=16)
    row = m.agg(
        F2.count("*").alias("n"),
        F2.countDistinct("iid").alias("d"),
        F2.min("iid").alias("lo"),
        F2.max("iid").alias("hi"),
    ).collect()[0]
    assert (row["n"], row["d"], row["lo"], row["hi"]) == (n, n, 0, n - 1)
    # assignment is a pure function of the id set: an independent rebuild
    # (different partition count) must reproduce the identical mapping
    # under the same bucket count, and stay a bijection under another
    m1 = {r["_id"]: r["iid"] for r in m.collect()}
    m_again = dense_id_mapping(ids, partitions=16)
    assert {r["_id"]: r["iid"] for r in m_again.collect()} == m1
    m_again.unpersist()
    m.unpersist()


def test_packed_equals_grouped_on_lsh_keys(spark, fixture_small):
    """End-to-end LSH operating point: packed and grouped strategies
    produce the identical candidate-pair COUNT and match the same stats
    (regression for the dense-id duplicate-rank bug, which silently
    merged pair sets and undercounted by ~0.02%)."""
    from neural_entity_matching_spark.functions.normalize import (
        build_signatures,
    )
    from neural_entity_matching_spark.operators.blocking import lsh_block

    transcripts, _, _ = fixture_small
    sigs = build_signatures(transcripts).cache()
    g, sg = lsh_block(sigs, num_hashes=128, bands=64, char_ngram=8,
                      seed=42, block_cap=35, strategy="grouped")
    p, sp = lsh_block(sigs, num_hashes=128, bands=64, char_ngram=8,
                      seed=42, block_cap=35, strategy="packed")
    assert sp.extra["n_pairs"] == sg.extra["n_pairs"]
    assert (sp.oversized_blocks, sp.dropped_memberships) == (
        sg.oversized_blocks, sg.dropped_memberships)
    # decode_ids=True (default) on the packed strategy returns REAL ids in
    # canonical least/greatest orientation — the exact grouped pair set
    canon = lambda df: {
        tuple(sorted((r["conv_id_a"], r["conv_id_b"])))
        for r in df.collect()
    }
    assert canon(p) == canon(g)
    g.unpersist()
    sp.extra["packed_pairs"].unpersist()
    sp.extra["id_mapping"].unpersist()
    sigs.unpersist()


def test_salting_spreads_join_work(spark):
    """The pre-dedup salted join must not funnel the hot block through a
    single partition: max per-partition row share drops materially."""
    keys = _hot_keys(spark, n_hot=200, n_normal=100)

    def max_partition_share(df):
        rows = (
            df.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
            .collect()[0]
        )
        return rows["mx"] / rows["tot"]

    def joined(salt):
        eligible = keys  # no cap here; isolate the join shape
        if salt is None:
            a = eligible.select("block_key", F.col("conv_id").alias("conv_id_a"))
            b = eligible.select("block_key", F.col("conv_id").alias("conv_id_b"))
            j = a.join(b, "block_key").filter(F.col("conv_id_a") < F.col("conv_id_b"))
        else:
            a = eligible.select(
                "block_key", F.col("conv_id").alias("conv_id_a"),
                F.pmod(F.xxhash64("conv_id"), F.lit(salt)).alias("salt"),
            )
            b = eligible.select(
                "block_key", F.col("conv_id").alias("conv_id_b"),
                F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("salt"),
            )
            j = a.join(b, ["block_key", "salt"]).filter(
                F.col("conv_id_a") < F.col("conv_id_b")
            )
        return j.select("conv_id_a", "conv_id_b")

    # observe the raw hash layout: no AQE rebalancing, no broadcast join
    # (at cluster scale both sides are far beyond broadcast range)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        share_plain = max_partition_share(joined(None))
        share_salted = max_partition_share(joined(8))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert share_salted < share_plain * 0.5, (share_plain, share_salted)


def test_cap_drops_mega_block_visibly(spark):
    keys = _hot_keys(spark)
    pairs, stats = pairs_from_block_keys(keys, block_cap=50)
    assert stats.oversized_blocks == 1
    assert stats.dropped_memberships == 120
    got = pairs.count()
    assert got == 100 * 3  # only the normal blocks survive


def test_all_strategies_and_encodings_identical(spark):
    """grouped == join == salted pair sets, with and without id encoding,
    and decode_ids=False maps back exactly through stats.extra['id_mapping']."""
    from neural_entity_matching_spark.operators.blocking import (
        grouped_pairs_from_block_keys,
    )

    keys = _hot_keys(spark, n_hot=60, n_normal=200)

    def pairset(df):
        return {(r["conv_id_a"], r["conv_id_b"]) for r in df.collect()}

    j, _ = pairs_from_block_keys(keys, block_cap=80)
    g, _ = grouped_pairs_from_block_keys(keys, block_cap=80)
    s, _ = salted_pairs_from_block_keys(keys, block_cap=80, salt=4)
    raw, _ = grouped_pairs_from_block_keys(keys, block_cap=80, encode_ids=False)
    expect = pairset(j)
    assert pairset(g) == expect
    assert pairset(s) == expect
    assert pairset(raw) == expect
    assert expect  # non-trivial

    iid, st = grouped_pairs_from_block_keys(keys, block_cap=80,
                                            decode_ids=False)
    mapping = {r["iid"]: r["_id"] for r in st.extra["id_mapping"].collect()}
    decoded = {
        tuple(sorted((mapping[r["conv_id_a"]], mapping[r["conv_id_b"]])))
        for r in iid.collect()
    }
    assert decoded == expect
    st.extra["id_mapping"].unpersist()


def test_dense_id_mapping_rejects_duplicate_ids(spark):
    """The bijection check must catch a caller passing a NON-distinct id
    column (each dup would get several iids and every downstream pair
    join would silently fan out) — round-4 advice item."""
    import pytest

    from neural_entity_matching_spark.operators.blocking import (
        dense_id_mapping,
    )

    ids = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("b",)], ["_id"]
    )
    with pytest.raises(AssertionError, match="duplicates"):
        dense_id_mapping(ids, partitions=4)


def test_grouped_physical_cap_fallback(spark):
    """r7: the single-pass grouped strategy must take the same
    prune-before-collect fallback as packed when a physical block
    exceeds physical_block_cap — identical pair set and stats to the
    non-fallback run, in both the raw-keys and the ids-provided shapes."""
    from neural_entity_matching_spark.operators.blocking import (
        grouped_pairs_from_block_keys,
    )

    keys = _hot_keys(spark)
    ids = keys.select("conv_id").distinct()

    def pair_set(pairs):
        return {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}

    pf, sf = grouped_pairs_from_block_keys(keys, block_cap=100,
                                           physical_block_cap=50)
    assert "prune-before-collect" in sf.extra["fallback"]
    pn, sn = grouped_pairs_from_block_keys(keys, block_cap=100)
    assert "fallback" not in sn.extra
    assert pair_set(pf) == pair_set(pn)
    assert sf.extra["n_pairs"] == sn.extra["n_pairs"] == 100 * 3
    assert (sf.oversized_blocks, sf.dropped_memberships) == (
        sn.oversized_blocks, sn.dropped_memberships) == (1, 120)

    # ids-provided shape (keys stream, no raw persist): fallback must
    # re-persist the narrow keys and still match
    pi, si = grouped_pairs_from_block_keys(keys, block_cap=100,
                                           physical_block_cap=50, ids=ids)
    assert "prune-before-collect" in si.extra["fallback"]
    assert pair_set(pi) == pair_set(pn)
    assert si.extra["n_pairs"] == 100 * 3

    # fallback with the cap ABOVE the hot block: full pair set preserved
    pf2, sf2 = grouped_pairs_from_block_keys(keys, block_cap=1000,
                                             physical_block_cap=50, ids=ids)
    pn2, sn2 = grouped_pairs_from_block_keys(keys, block_cap=1000)
    s_f, s_n = pair_set(pf2), pair_set(pn2)
    assert s_f == s_n and len(s_f) == 120 * 119 // 2 + 100 * 3
