"""fast_threshold_score must make IDENTICAL match decisions to the exact
featurize+threshold path, with exact scores on every matched pair."""

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.functions.normalize import build_signatures
from neural_entity_matching_spark.operators.blocking import lsh_block
from neural_entity_matching_spark.operators.scoring import (
    fast_threshold_score,
    featurize_pairs,
    threshold_scorer,
)

LSH = dict(num_hashes=128, bands=64, char_ngram=8, seed=42)


@pytest.mark.parametrize("broadcast_signatures", [False, True])
def test_fast_scorer_decision_equivalence(fixture_small, broadcast_signatures):
    transcripts, _, _ = fixture_small
    sigs = build_signatures(transcripts).cache()
    cands, _ = lsh_block(sigs, block_cap=35, **LSH)
    cands = cands.cache()

    exact = threshold_scorer(featurize_pairs(cands, sigs), threshold=0.55).cache()
    fast = fast_threshold_score(
        cands, sigs, threshold=0.55,
        broadcast_signatures=broadcast_signatures).cache()

    key = ["conv_id_a", "conv_id_b"]
    e = {tuple(r[k] for k in key): (r["is_match"], r["score"]) for r in exact.collect()}
    f = {tuple(r[k] for k in key): (r["is_match"], r["score"]) for r in fast.collect()}
    assert set(e) == set(f)
    n_match = 0
    for pair, (em, es) in e.items():
        fm, fs = f[pair]
        assert em == fm, (pair, em, fm)  # decisions identical
        if em == 1:
            n_match += 1
            assert abs(es - fs) < 1e-9, (pair, es, fs)  # exact score on matches
        else:
            assert fs < 0.55  # non-match upper bound stays sub-threshold
    assert n_match > 0


def test_fast_scorer_threshold_boundary_bitexact(spark):
    """Stress the score == threshold boundary: random token strings scored
    at many thresholds; is_match must equal the exact path's float
    comparison bit-for-bit (the floor-derived band alone mis-rounds at
    exact-boundary scores — the decision must come from the reconstructed
    score, never band exhaustion)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.randint(3, 20)
        rows.append((f"s{i:03d}", " ".join(rng.choice(vocab) for _ in range(n))))
    sigs = spark.createDataFrame(rows, ["conv_id", "sig_text"]).cache()
    ids = [r[0] for r in rows]
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], ["conv_id_a", "conv_id_b"]
    ).cache()
    # thresholds chosen so that required-ratio boundaries fall on exact
    # rational score values (short strings + tiny vocab -> many ties)
    for t in [0.25, 0.5, 0.55, 0.625, 0.75]:
        exact = threshold_scorer(featurize_pairs(pairs, sigs), threshold=t)
        fast = fast_threshold_score(pairs, sigs, threshold=t)
        key = ["conv_id_a", "conv_id_b"]
        e = {tuple(r[k] for k in key): r["is_match"] for r in exact.collect()}
        f = {tuple(r[k] for k in key): r["is_match"] for r in fast.collect()}
        assert e == f, (t, {p: (e[p], f[p]) for p in e if e[p] != f[p]})


def test_featurize_fused_udf_bitexact_vs_jvm_expressions(fixture_small):
    """r7: the default featurize path computes lev_ratio/token_jaccard
    through the fused Myers+tokenizer Arrow UDF. Every double must be
    BIT-IDENTICAL to the plain JVM expressions (F.levenshtein +
    array_intersect jaccard) over the same pairs — including whitespace
    edge cases injected into the signature text."""
    from neural_entity_matching_spark.functions.normalize import (
        build_signatures,
    )
    from neural_entity_matching_spark.functions.similarity import (
        len_ratio,
        lev_ratio,
        token_jaccard,
    )
    from neural_entity_matching_spark.operators.scoring import featurize_pairs

    transcripts, _, _ = fixture_small
    spark = transcripts.sparkSession
    sigs = build_signatures(transcripts).limit(120)
    # adversarial rows: empties, sub-shingle strings, exotic whitespace
    extra = spark.createDataFrame(
        [("w-1", "", 1), ("w-2", " ", 1), ("w-3", "a\tb c", 1),
         ("w-4", "x " * 300, 1), ("w-5", "\x0bduplicated token token\x0c", 1)],
        "conv_id string, sig_text string, n_turns int")
    sigs = sigs.unionByName(extra).cache()
    a = sigs.select(F.col("conv_id").alias("conv_id_a"))
    b = sigs.select(F.col("conv_id").alias("conv_id_b"))
    cands = (a.crossJoin(b)
             .filter(F.col("conv_id_a") < F.col("conv_id_b"))
             .filter(F.pmod(F.xxhash64("conv_id_a", "conv_id_b"), F.lit(7))
                     == 0))
    got = featurize_pairs(cands, sigs)
    sig2 = sigs.select("conv_id", "sig_text")
    exp = (
        cands
        .join(sig2.withColumnRenamed("conv_id", "conv_id_a")
              .withColumnRenamed("sig_text", "sig_a"), "conv_id_a")
        .join(sig2.withColumnRenamed("conv_id", "conv_id_b")
              .withColumnRenamed("sig_text", "sig_b"), "conv_id_b")
        .withColumn("lev_ratio", lev_ratio(F.substring("sig_a", 1, 512),
                                           F.substring("sig_b", 1, 512)))
        .withColumn("token_jaccard",
                    token_jaccard(F.col("sig_a"), F.col("sig_b")))
        .withColumn("len_ratio", len_ratio(F.col("sig_a"), F.col("sig_b")))
        .select("conv_id_a", "conv_id_b", "lev_ratio", "token_jaccard",
                "len_ratio")
    )
    g = {(r["conv_id_a"], r["conv_id_b"]):
         (r["lev_ratio"], r["token_jaccard"], r["len_ratio"])
         for r in got.collect()}
    e = {(r["conv_id_a"], r["conv_id_b"]):
         (r["lev_ratio"], r["token_jaccard"], r["len_ratio"])
         for r in exp.collect()}
    assert g.keys() == e.keys() and len(g) > 100
    for k in e:
        assert g[k] == e[k], (k, g[k], e[k])  # bitwise double equality
    sigs.unpersist()
