"""Operator-level unit tests (SURVEY.md §5 plan 1-2): normalization,
shingle padding, minhash determinism/partition-invariance, LSH recall vs
the analytic oracle, similarity parity against pure-Python references,
signature turn-order invariant."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.functions import minhash
from neural_entity_matching_spark.functions.minhash import (
    band_keys_udf,
    candidate_probability,
    minhash_signature_udf,
)
from neural_entity_matching_spark.functions.normalize import (
    build_signatures,
    normalize_text,
)
from neural_entity_matching_spark.functions.similarity import (
    fuzz_ratio_udf,
    jaro_winkler_udf,
    lev_ratio,
    token_jaccard,
)
from oracles import _shingle_hashes, indel_distance, jaro_winkler


# --- normalization (F9) ---

def test_normalize_text(spark):
    df = spark.createDataFrame(
        [("  Hello   WORLD \t x ",), ("", ), (None,)], ["t"]
    ).select(normalize_text(F.col("t")).alias("n"))
    vals = [r["n"] for r in df.collect()]
    assert vals == ["hello world x", "", None]


# --- shingling incl. the short-string padding rule ---

def test_shingle_padding_short_string():
    # reference pads to char_ngram with spaces (blocking_algorithms.py:117-119)
    h = _shingle_hashes("hi", 8)
    assert len(h) == 1  # exactly one shingle: "hi      "
    h2 = _shingle_hashes("hi      ", 8)
    assert np.array_equal(h, h2)
    assert len(_shingle_hashes("", 8)) == 1  # empty -> 8 spaces, no crash
    # the shipped batch kernel pads the same way
    flat, offsets = minhash.shingle_hashes(["hi", "hi      ", ""], 8)
    assert offsets.tolist() == [0, 1, 2] and len(flat) == 3
    assert flat[0] == flat[1] == h[0]
    assert flat[2] == _shingle_hashes("", 8)[0]


def test_shingle_hashes_deterministic():
    a = _shingle_hashes("the quick brown fox", 8)
    b = _shingle_hashes("the quick brown fox", 8)
    assert np.array_equal(a, b)
    c, _ = minhash.shingle_hashes(["the quick brown fox"], 8)
    d, _ = minhash.shingle_hashes(["the quick brown fox"], 8)
    assert np.array_equal(c, d)
    assert np.array_equal(np.unique(c), a)


def test_batch_kernel_matches_per_doc_oracle():
    """The batch shingling (one UTF-8 buffer, boundary-crossing windows
    dropped, repeats kept) gives each text the oracle's shingle set, so
    fingerprints and band keys equal the per-document path."""
    texts = ["", None, "hi", "hé", "exactly8", "  ", "aaaaaaaaaaaa",
             "héllo wörld çafé ünïcode", "😀", "ab😀cd", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 text",
             "the quick brown fox jumps over the lazy dog"]
    flat, offsets = minhash.shingle_hashes(texts, 8)
    ends = np.append(offsets[1:], len(flat))
    oracle = [_shingle_hashes(t or "", 8) for t in texts]
    for t, lo, hi, want in zip(texts, offsets, ends, oracle):
        assert np.array_equal(np.unique(flat[lo:hi]), want), t
    seeds = minhash._seeds(128, 42)
    oracle_offsets = np.cumsum([0] + [len(a) for a in oracle[:-1]])
    assert np.array_equal(
        minhash._minhash_matrix(flat, offsets, seeds),
        minhash._minhash_matrix(np.concatenate(oracle), oracle_offsets, seeds))
    keys = minhash.band_keys(texts, 128, 64, 8, 42)
    one_by_one = np.concatenate(
        [minhash.band_keys([t], 128, 64, 8, 42) for t in texts])
    assert keys.shape == (len(texts), 64)
    assert np.array_equal(keys, one_by_one)
    assert minhash.band_keys([], 128, 64, 8, 42).shape == (0, 64)


def test_kernel_slices_by_bytes(monkeypatch):
    """Slicing a batch by UTF-8 bytes (one text per slice when a text is
    longer than a slice), and dropping a long text's repeated shingles,
    leave fingerprints and band keys unchanged."""
    texts = ["", None, "hi", "😀" * 40, "a longer text " * 30, "short one",
             "héllo wörld çafé", "x" * 9] * 3
    keys = minhash.band_keys(texts, 128, 64, 8, 42)
    seeds = minhash._seeds(128, 42)
    whole = minhash._minhash_matrix(*minhash.shingle_hashes(texts, 8), seeds)
    monkeypatch.setattr(minhash, "_SLICE_BYTES", 24)
    arrow_texts = minhash._as_arrow(texts)
    slices = list(minhash._minhash_slices(arrow_texts, 8, seeds))
    assert len(slices) > len(texts) // 2
    assert np.array_equal(np.concatenate([m for _, m in slices]), whole)
    assert [lo for lo, _ in slices] == sorted({lo for lo, _ in slices})
    assert np.array_equal(minhash.band_keys(texts, 128, 64, 8, 42), keys)
    monkeypatch.setattr(minhash, "_DEDUP_MIN_SHINGLES", 1)
    flat, offsets = minhash.shingle_hashes(texts, 8)
    distinct, distinct_offsets = minhash._dedup_long_texts(flat, offsets)
    assert len(distinct) < len(flat)  # "a longer text " repeats its shingles
    assert np.array_equal(minhash._minhash_matrix(distinct, distinct_offsets, seeds),
                          whole)
    monkeypatch.setattr(minhash, "_SLICE_BYTES", 1 << 20)
    assert np.array_equal(minhash.band_keys(texts, 128, 64, 8, 42), keys)


# --- minhash determinism & partition invariance ---

def test_minhash_partition_invariance(spark):
    texts = [(f"id{i}", f"token{i} " * 10 + "shared suffix text here") for i in range(40)]
    df1 = spark.createDataFrame(texts, ["id", "t"]).repartition(1)
    df8 = spark.createDataFrame(list(reversed(texts)), ["id", "t"]).repartition(8)
    udf = band_keys_udf(num_hashes=64, bands=16, char_ngram=5, seed=1)
    r1 = {r["id"]: r["b"] for r in df1.select("id", udf("t").alias("b")).collect()}
    r8 = {r["id"]: r["b"] for r in df8.select("id", udf("t").alias("b")).collect()}
    assert r1 == r8


def test_minhash_fingerprint_estimates_jaccard(spark):
    """k-minhash agreement ratio ~ true Jaccard (property test)."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    variant = base.replace("quick", "rapid").replace("lazy", "idle")
    k = 256
    udf = minhash_signature_udf(num_hashes=k, char_ngram=5, seed=3)
    df = spark.createDataFrame([(base,), (variant,)], ["t"]).coalesce(1)
    fps = [np.array(r["f"]) for r in df.select(udf("t").alias("f")).collect()]
    est = float(np.mean(fps[0] == fps[1]))

    def sh(s):
        return set(s[i:i + 5] for i in range(len(s) - 4))

    true_j = len(sh(base) & sh(variant)) / len(sh(base) | sh(variant))
    assert abs(est - true_j) < 0.12  # 256 hashes -> se ~ sqrt(j(1-j)/256) ~ 0.03


def test_lsh_recall_matches_analytic_oracle(spark):
    """Empirical co-block rate at similarity s tracks p = 1-(1-s^r)^b
    (reference script/utilities.py:525)."""
    rng = np.random.RandomState(0)
    vocab = [f"w{i:03d}" for i in range(400)]
    pairs = []
    for i in range(150):
        toks = list(rng.choice(vocab, size=40, replace=False))
        # perturb ~25% of tokens -> char-5gram jaccard roughly 0.45-0.65
        toks2 = list(toks)
        for j in rng.choice(40, size=10, replace=False):
            toks2[j] = vocab[rng.randint(len(vocab))]
        pairs.append((f"a{i}", " ".join(toks)))
        pairs.append((f"b{i}", " ".join(toks2)))
    df = spark.createDataFrame(pairs, ["id", "t"])
    udf = band_keys_udf(num_hashes=128, bands=64, char_ngram=5, seed=9)
    keys = df.select("id", F.posexplode(udf("t")).alias("band", "h")).select(
        "id", F.concat_ws(":", "band", "h").alias("k")
    )
    a = keys.filter(F.col("id").startswith("a")).select(
        F.expr("substring(id, 2)").alias("i"), "k")
    b = keys.filter(F.col("id").startswith("b")).select(
        F.expr("substring(id, 2)").alias("i"), "k")
    hits = a.join(b, ["i", "k"]).select("i").distinct().count()
    rate = hits / 150

    # average analytic prediction over the actual jaccard of each pair
    def sh(s):
        return set(s[i:i + 5] for i in range(len(s) - 4))

    js = []
    d = dict(pairs)
    for i in range(150):
        A, B = sh(d[f"a{i}"]), sh(d[f"b{i}"])
        js.append(len(A & B) / len(A | B))
    pred = float(np.mean([candidate_probability(s, 2, 64) for s in js]))
    assert abs(rate - pred) < 0.1, (rate, pred)


# --- similarity functions vs pure-python references ---

def test_lev_ratio_matches_python(spark):
    rows = [("kitten", "sitting"), ("abc", "abc"), ("", "xyz"), ("spark", "sprk")]
    got = (
        spark.createDataFrame(rows, ["a", "b"])
        .select(F.levenshtein("a", "b").alias("d"), lev_ratio(F.col("a"), F.col("b")).alias("r"))
        .collect()
    )
    import difflib

    def plev(a, b):
        # classic DP
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = min(dp[j] + 1, dp[j - 1] + 1,
                          prev + (a[i - 1] != b[j - 1]))
                prev, dp[j] = dp[j], cur
        return dp[n]

    for (a, b), r in zip(rows, got):
        assert r["d"] == plev(a, b)
        expect = 100.0 * (1 - plev(a, b) / max(len(a), len(b), 1))
        assert abs(r["r"] - expect) < 1e-9


def test_fuzz_ratio_indel_parity(spark):
    """fuzz.ratio = 100*(1 - indel/(la+lb)) — indel distance via LCS
    (SURVEY.md §7 risk 1: distinct from plain Levenshtein)."""
    assert indel_distance("kitten", "sitting") == 5  # lev=3 but indel=5
    assert indel_distance("abc", "abc") == 0
    assert indel_distance("", "ab") == 2
    df = spark.createDataFrame([("kitten", "sitting")], ["a", "b"]).select(
        fuzz_ratio_udf(F.col("a"), F.col("b")).alias("r")
    )
    val = df.collect()[0]["r"]
    assert abs(val - 100.0 * (1 - 5 / 13)) < 1e-4


def test_edit_distance_filter_indel_metric(spark):
    """edit_distance_filter(metric='indel') applies the reference's
    fuzz.ratio normalization (substitutions cost 2) — 'ab' vs 'ba' is 0
    under lev_ratio but 50 under indel, so the two metrics select
    different survivor sets at the same cutoff (ADVICE fidelity item)."""
    from neural_entity_matching_spark.operators.blocking import (
        edit_distance_filter,
    )

    sigs = spark.createDataFrame(
        [(1, "ab"), (2, "ba"), (3, "zzzz")], ["conv_id", "sig_text"])
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], ["conv_id_a", "conv_id_b"])
    lev = {(r["conv_id_a"], r["conv_id_b"]) for r in edit_distance_filter(
        cands, sigs, cutoff_ratio=40.0).collect()}
    indel = {(r["conv_id_a"], r["conv_id_b"]) for r in edit_distance_filter(
        cands, sigs, cutoff_ratio=40.0, metric="indel").collect()}
    assert lev == set()            # lev_ratio('ab','ba') = 0
    assert indel == {(1, 2)}       # indel ratio('ab','ba') = 50
    import pytest

    with pytest.raises(ValueError):
        edit_distance_filter(cands, sigs, metric="nope")


def test_jaro_winkler_known_values(spark):
    # classic textbook values
    assert abs(jaro_winkler("MARTHA", "MARHTA") - 0.9611) < 1e-3
    assert abs(jaro_winkler("DWAYNE", "DUANE") - 0.84) < 1e-2
    assert jaro_winkler("", "") == 1.0
    assert jaro_winkler("a", "") == 0.0
    df = spark.createDataFrame([("MARTHA", "MARHTA")], ["a", "b"]).select(
        jaro_winkler_udf(F.col("a"), F.col("b")).alias("j")
    )
    assert abs(df.collect()[0]["j"] - 0.9611) < 1e-3


def test_token_jaccard(spark):
    df = spark.createDataFrame([("a b c", "b c d"), ("x", "x"), ("a", "b")], ["a", "b"])
    vals = [r["j"] for r in df.select(token_jaccard(F.col("a"), F.col("b")).alias("j")).collect()]
    assert vals[0] == pytest.approx(2 / 4)
    assert vals[1] == 1.0
    assert vals[2] == 0.0


# --- signature invariant (the per-row invariant of BASELINE.json) ---

def test_signature_partition_and_order_invariance(spark, fixture_small):
    transcripts, _, _ = fixture_small
    s1 = build_signatures(transcripts)
    shuffled = transcripts.orderBy(F.rand(7)).repartition(16)
    s2 = build_signatures(shuffled)
    assert s1.exceptAll(s2).count() == 0
    assert s2.exceptAll(s1).count() == 0


def test_signature_respects_turn_idx_not_ts(spark):
    """Ordering key is turn_idx, NEVER arrival/partition order."""
    rows = [
        ("c1", 1, "assistant", "world", None, None),
        ("c1", 0, "user", "hello", None, None),
        ("c1", 2, "user", "bye", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    sig = build_signatures(df).collect()[0]
    assert sig["sig_text"] == "hello world bye"
    assert sig["n_turns"] == 3


# --- hash-embedding stand-in (functions/embedding.py) ---

def test_hash_embedding_deterministic_unit_and_similarity(spark):
    from neural_entity_matching_spark.functions.embedding import (
        embed_signatures,
        hash_embedding_udf,
    )
    import numpy as np

    rows = [
        ("a", "deploy cluster error retry timeout"),
        ("b", "deploy cluster error retry delay"),   # near-dup of a
        ("c", "zen lor vex pli gra shu wen dor"),    # unrelated
        ("d", ""),                                    # empty -> zero vector
    ]
    df = spark.createDataFrame(rows, ["conv_id", "sig_text"])
    out = {r["conv_id"]: np.array(r["emb"])
           for r in embed_signatures(df, dim=64).collect()}
    # unit (or zero) norm
    for k in ("a", "b", "c"):
        assert abs(np.linalg.norm(out[k]) - 1.0) < 1e-9
    assert np.linalg.norm(out["d"]) == 0.0
    # near-dups more similar than unrelated
    assert out["a"] @ out["b"] > 0.6 > abs(out["a"] @ out["c"])
    # partition-invariant / deterministic
    out2 = {r["conv_id"]: np.array(r["emb"])
            for r in embed_signatures(df.repartition(3), dim=64).collect()}
    for k in out:
        assert np.array_equal(out[k], out2[k])
    # different seed -> different embedding
    udf2 = hash_embedding_udf(dim=64, seed=7)
    out3 = df.select(udf2("sig_text").alias("e")).collect()
    assert not np.array_equal(np.array(out3[0]["e"]), out["a"])
