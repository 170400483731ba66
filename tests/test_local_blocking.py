"""lsh_block's driver path (within LOCAL_MAX_SIGNATURES rows and
LOCAL_MAX_SIGNATURE_BYTES bytes of signatures, and LOCAL_MAX_BLOCK_PAIRS
pairs before dedup) against its grouped Spark path and the reference's
per-block ``itertools.combinations`` oracle: same pairs, same
BlockingStats, same errors, nothing left persisted; over each bound it
falls back to grouped with the same pairs."""

import pytest
from test_skew import _oracle_pairs, _pair_set

from neural_entity_matching_spark.operators import blocking
from neural_entity_matching_spark.operators.blocking import lsh_band_keys, lsh_block

LSH = dict(num_hashes=128, bands=64, char_ngram=8, seed=42)
BLOCK_CAP = 35
STAT_FIELDS = ("total_blocks", "oversized_blocks", "dropped_memberships",
               "capped_at")

BASE = [
    ("a1", "hello there how can i help you today with your order"),
    ("a2", "hello there how can i help you today with your order"),
    ("a3", "hello there how can i help you today with my order"),
    ("b1", "the parcel left the depot on monday and arrives soon"),
    ("b2", "the parcel left the depot on monday and arrives soon!"),
    ("c1", "completely unrelated text about the weather forecast"),
]

CORPORA = {
    "identical_docs": BASE + [(f"d{i}", "same words every time") for i in range(6)],
    "empty_and_whitespace": BASE + [("e1", ""), ("e2", " "), ("e3", "   "),
                                    ("e4", "\t"), ("e5", "        ")],
    "block_above_cap": BASE + [(f"h{i:02d}", "the greeting everyone sends")
                               for i in range(BLOCK_CAP + 5)],
    "empty_table": [],
    "astral_unicode": BASE + [
        ("😀1", "emoji 😀😀 order 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text here"),
        ("😀2", "emoji 😀😀 order 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text here"),
        ("𝔘3", "𝔘"),
        ("é4", "héllo wörld çafé ünïcode order"),
        ("é5", "héllo wörld çafé ünïcode order"),
    ],
    "null_text": BASE + [("n1", None), ("n2", None), ("n3", "")],
}


def _sigs(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, sig_text string")


def _grouped(monkeypatch, sigs):
    # -1, not 0: an empty table is within a bound of 0 signatures
    with monkeypatch.context() as m:
        m.setattr(blocking, "LOCAL_MAX_SIGNATURES", -1)
        return lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)


def _assert_same(local, grouped):
    (lp, ls), (gp, gs) = local, grouped
    assert ls.extra["strategy"] == "local"
    assert gs.extra["strategy"] == "grouped"
    assert [getattr(ls, f) for f in STAT_FIELDS] == [
        getattr(gs, f) for f in STAT_FIELDS]
    assert ls.extra["n_pairs"] == gs.extra["n_pairs"]
    pairs = _pair_set(lp)
    assert pairs == _pair_set(gp)
    assert lp.count() == len(pairs) == ls.extra["n_pairs"]
    gp.unpersist()
    return pairs, ls


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_local_blocking_equals_grouped_and_oracle(spark, monkeypatch, name):
    sigs = _sigs(spark, CORPORA[name])
    pairs, stats = _assert_same(lsh_block(sigs, block_cap=BLOCK_CAP, **LSH),
                                _grouped(monkeypatch, sigs))
    keys = lsh_band_keys(sigs, **LSH)
    assert pairs == _oracle_pairs(keys, BLOCK_CAP)
    if name == "identical_docs":
        assert {("d0", "d1"), ("a1", "a2")} <= pairs
    if name == "block_above_cap":
        assert not any(a.startswith("h") for a, _ in pairs)
        # every band of the identical greeting is one block above the cap
        assert stats.oversized_blocks == LSH["bands"]
        assert stats.dropped_memberships == LSH["bands"] * (BLOCK_CAP + 5)


def test_local_blocking_persists_nothing(spark):
    sigs = _sigs(spark, CORPORA["identical_docs"]).cache()
    sigs.count()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    before = rdds.size()
    threshold = "spark.sql.execution.arrow.localRelationThreshold"
    conf_before = spark.conf.get(threshold)
    pairs, stats = lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
    assert stats.extra["strategy"] == "local"
    # the pairs come back over Arrow batches, and the session conf is
    # left as it was
    assert "LocalRelation" not in pairs._jdf.queryExecution().analyzed().toString()
    assert spark.conf.get(threshold) == conf_before
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    pairs.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    sigs.unpersist()


def test_duplicate_ids_raise_on_both_paths(spark, monkeypatch):
    sigs = _sigs(spark, BASE + [("a1", "a second row for the same id")])
    with pytest.raises(ValueError) as local:
        lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
    with pytest.raises(ValueError) as grouped:
        _grouped(monkeypatch, sigs)
    assert str(local.value) == str(grouped.value)
    assert str(local.value).startswith("duplicate input ids (7 id rows, 6 distinct)")


def test_null_id_same_on_both_paths(spark, monkeypatch):
    # a null id raises, where it used to make every doc in its blocks a
    # self-pair (x, x)
    for nulls in ([(None, BASE[0][1])], [(None, "x"), (None, "y")]):
        sigs = _sigs(spark, BASE + nulls)
        with pytest.raises(ValueError) as local:
            lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
        with pytest.raises(ValueError) as grouped:
            _grouped(monkeypatch, sigs)
        assert str(local.value) == str(grouped.value)
        assert str(local.value).startswith(
            f"null input ids ({len(nulls)} of {len(BASE) + len(nulls)} id rows)")


def test_pair_bound_falls_back_to_grouped(spark, monkeypatch):
    sigs = _sigs(spark, CORPORA["identical_docs"])
    local, local_stats = lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
    expect = _pair_set(local)
    # pre-dedup pairs: one per band for each co-blocked pair, so far more
    # than the deduped count
    monkeypatch.setattr(blocking, "LOCAL_MAX_BLOCK_PAIRS", len(expect))

    def no_udf(*args, **kwargs):
        raise AssertionError("the band-key UDF ran again")

    # the fallback groups the band keys the driver computed
    monkeypatch.setattr(blocking, "lsh_band_keys", no_udf)
    pairs, stats = lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
    assert stats.extra["strategy"] == "grouped"
    assert _pair_set(pairs) == expect
    assert [getattr(stats, f) for f in STAT_FIELDS] == [
        getattr(local_stats, f) for f in STAT_FIELDS]
    pairs.unpersist()


def test_byte_bound_sends_long_texts_to_grouped(spark, monkeypatch):
    """A few long texts stay far below the row bound; the byte bound
    alone keeps them off the driver."""
    long_docs = [(f"t{i}", " ".join(f"line {j} of a long transcript {i % 3}"
                                    for j in range(100)))
                 for i in range(6)]
    sigs = _sigs(spark, BASE + long_docs)
    n_bytes = sum(len(t.encode()) for _, t in BASE + long_docs)
    monkeypatch.setattr(blocking, "LOCAL_MAX_SIGNATURE_BYTES", n_bytes)
    local, local_stats = lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
    assert local_stats.extra["strategy"] == "local"
    monkeypatch.setattr(blocking, "LOCAL_MAX_SIGNATURE_BYTES", n_bytes - 1)
    pairs, stats = lsh_block(sigs, block_cap=BLOCK_CAP, **LSH)
    assert stats.extra["strategy"] == "grouped"
    assert _pair_set(pairs) == _pair_set(local)
    assert ("t0", "t3") in _pair_set(pairs)
    assert [getattr(stats, f) for f in STAT_FIELDS] == [
        getattr(local_stats, f) for f in STAT_FIELDS]
    pairs.unpersist()
