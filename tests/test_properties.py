"""Pure-python property tests (hypothesis) for the similarity kernels —
no SparkSession needed, so they run in milliseconds."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_entity_matching_spark.functions.minhash import shingle_hashes
from neural_entity_matching_spark.functions.similarity import (
    _indel_distance_batch,
    _jaro_winkler_batch,
)
from oracles import _shingle_hashes, indel_distance, jaro_winkler

texts = st.text(alphabet="abcdefg hij", max_size=40)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(texts, texts), max_size=20))
def test_batch_kernels_match_scalar_oracles(pairs):
    """The numpy whole-batch kernels (the rapidfuzz-absent UDF fallbacks)
    are bit-identical to the scalar reference implementations."""
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    db = _indel_distance_batch(a, b)
    jb = _jaro_winkler_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        assert db[i] == indel_distance(x, y)
        assert abs(jb[i] - jaro_winkler(x, y)) < 1e-12


def test_batch_kernels_mixed_length_chunks():
    """Chunking by length (incl. a >chunk-width outlier) must not change
    results or drop rows."""
    import random

    rng = random.Random(3)
    mk = lambda n: "".join(  # noqa: E731
        rng.choice("abcdef x") for _ in range(rng.randint(0, n)))
    a = np.array([mk(30) for _ in range(100)] + [mk(600), ""], dtype=object)
    b = np.array([mk(30) for _ in range(100)] + [mk(600), "zz"], dtype=object)
    db = _indel_distance_batch(a, b)
    jb = _jaro_winkler_batch(a, b)
    for i in range(len(a)):
        assert db[i] == indel_distance(a[i], b[i])
        assert abs(jb[i] - jaro_winkler(a[i], b[i])) < 1e-12


def test_chunker_cell_budget_bounds_matrix_width():
    """_chunk_by_length must (a) yield every index exactly once and
    (b) keep rows x max(width) under the cell budget for every chunk, so
    one pathological long string on the UNBOUNDED side (indel chunks by
    min length, JW by a-side length) cannot inflate a whole chunk's
    encode matrices to outlier width — the executor-OOM regression the
    fixed 2048-row chunking had (2048 rows x a 1 MB string ~ 8 GB)."""
    from neural_entity_matching_spark.functions.similarity import (
        _chunk_by_length,
    )

    rng = np.random.default_rng(0)
    key = rng.integers(0, 500, 5000)
    widths = key.copy()
    widths[7] = 3_000_000  # one 3M-char outlier on the unbounded side
    budget = 1 << 22
    seen = []
    for blk in _chunk_by_length(key, widths=widths, cell_budget=budget):
        w = max(int(widths[i]) for i in blk)
        assert len(blk) * w <= budget or len(blk) == 1
        assert len(blk) <= 2048
        seen.extend(blk.tolist())
    assert sorted(seen) == list(range(5000))
    # outlier rides alone; results still correct end-to-end
    a = np.array(["ab" * 4000, "xy"], dtype=object)
    b = np.array(["ab", "xy"], dtype=object)
    assert _indel_distance_batch(a, b).tolist() == [7998, 0]


@settings(max_examples=200, deadline=None)
@given(texts, texts)
def test_indel_symmetry_and_bounds(a, b):
    d = indel_distance(a, b)
    assert d == indel_distance(b, a)
    assert 0 <= d <= len(a) + len(b)
    assert (d == 0) == (a == b)
    # parity: indel distance has the same parity as len(a)+len(b)
    assert (d - (len(a) + len(b))) % 2 == 0


@settings(max_examples=200, deadline=None)
@given(texts, texts)
def test_jaro_winkler_bounds_and_symmetry(a, b):
    j = jaro_winkler(a, b)
    assert 0.0 <= j <= 1.0 + 1e-12
    assert abs(j - jaro_winkler(b, a)) < 1e-12
    if a == b:
        assert j == 1.0


@settings(max_examples=100, deadline=None)
@given(texts)
def test_shingles_deterministic_and_padded(t):
    a = _shingle_hashes(t, 8)
    b = _shingle_hashes(t, 8)
    assert np.array_equal(a, b)
    assert len(a) >= 1  # padding rule guarantees >= 1 shingle
    assert len(np.unique(a)) == len(a)  # already distinct


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="xyz w", min_size=0, max_size=6))
def test_short_strings_pad_like_reference(t):
    """Strings shorter than the shingle width behave as if right-padded
    with spaces (reference blocking_algorithms.py:117-119)."""
    padded = t + " " * (8 - len(t))
    assert np.array_equal(_shingle_hashes(t, 8), _shingle_hashes(padded, 8))
    flat, offsets = shingle_hashes([t, padded], 8)
    assert offsets.tolist() == [0, 1]  # one shingle each
    assert flat[0] == flat[1] == _shingle_hashes(padded, 8)[0]


@settings(max_examples=50, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=20)), max_size=12))
def test_batch_shingles_match_per_doc_oracle(batch):
    """One concatenated buffer gives every text the oracle's shingle set,
    for any code points, nulls and lengths around the shingle width."""
    flat, offsets = shingle_hashes(batch, 8)
    ends = np.append(offsets[1:], len(flat))
    for t, lo, hi in zip(batch, offsets, ends):
        assert np.array_equal(np.unique(flat[lo:hi]), _shingle_hashes(t or "", 8))


# ---------------------------------------------------------------------------
# r7: batch-vectorized Myers Levenshtein + fused token-jaccard kernels
# ---------------------------------------------------------------------------

def _lev_dp_oracle(a: str, b: str) -> int:
    """Classic O(n*m) unit-cost Levenshtein — the scalar test oracle."""
    m, n = len(a), len(b)
    if m == 0:
        return n
    if n == 0:
        return m
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        ca = a[i - 1]
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != b[j - 1]))
        prev = cur
    return prev[n]


lev_texts = st.text(alphabet="abcd efγ日𝄞", max_size=150)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(lev_texts, lev_texts), max_size=24))
def test_myers_lev_batch_matches_dp_oracle(pairs):
    from neural_entity_matching_spark.functions.similarity import (
        _lev_distance_batch,
    )

    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    d = _lev_distance_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        assert d[i] == _lev_dp_oracle(x, y), (x, y)


def test_myers_lev_word_boundaries():
    """Adversarial cases around the 64-bit word boundaries and the
    carry chain between pattern words."""
    from neural_entity_matching_spark.functions.similarity import (
        _lev_distance_batch,
    )

    cases = [("", ""), ("", "abc"), ("abc", ""), ("a" * 63, "a" * 64),
             ("a" * 64, "a" * 64), ("a" * 64, "a" * 65),
             ("a" * 65, "b" * 65), ("a" * 64 + "b", "a" * 64 + "c"),
             ("x" * 128, "y" * 129), ("x" * 129, "x" * 128),
             ("ab" * 300, "ba" * 301), ("a" * 513, "a" * 512 + "b")]
    a = np.array([c[0] for c in cases], dtype=object)
    b = np.array([c[1] for c in cases], dtype=object)
    d = _lev_distance_batch(a, b)
    for i, (x, y) in enumerate(cases):
        assert d[i] == _lev_dp_oracle(x, y), (i, d[i])


def test_myers_peq_guard_splits_small_wide_alphabet_chunks(monkeypatch):
    """A chunk of few rows over a wide alphabet must still split until its
    (W, A, B) Peq table fits PEQ_BUDGET_BYTES: every leaf kernel call with
    more than one row stays within the budget, and distances stay exact."""
    import random

    from neural_entity_matching_spark.functions import similarity as sim

    budget = 64 << 10
    monkeypatch.setattr(sim, "PEQ_BUDGET_BYTES", budget)
    orig = sim._myers_lev_chunk
    calls = []  # (rows, peq bytes, nested calls) per kernel call
    stack = []

    def spy(a_strs, b_strs, tile=32):
        stack.append(0)
        try:
            return orig(a_strs, b_strs, tile)
        finally:
            nested = stack.pop()
            if stack:
                stack[-1] += 1
            a_mat, a_len = sim._encode_batch(a_strs)
            b_mat, _ = sim._encode_batch(b_strs)
            _, _, A = sim._lev_codes(a_mat, b_mat)
            W = (int(a_len.max()) + 63) // 64
            calls.append((len(a_strs), A * W * len(a_strs) * 8, nested))

    monkeypatch.setattr(sim, "_myers_lev_chunk", spy)

    # 32 pairs (fewer than 64 rows), each pattern 70 distinct astral code
    # points of its own: ~2,300 symbols in one chunk, Peq ~1.2 MB
    rng = random.Random(3)
    pairs = []
    for i in range(32):
        a = [chr(0x20000 + 80 * i + j) for j in range(70)]
        b = list(a)
        for _ in range(rng.randint(0, 12)):
            b[rng.randrange(len(b))] = chr(0x30000 + rng.randrange(500))
        pairs.append(("".join(a), "".join(b[: rng.randint(60, 70)])))
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    d = sim._lev_distance_batch(a, b)

    assert any(nested for _, _, nested in calls)  # the guard split
    for rows, peq_bytes, nested in calls:
        if not nested and rows > 1:
            assert peq_bytes <= budget, (rows, peq_bytes)
    for i, (x, y) in enumerate(pairs):
        assert d[i] == _lev_dp_oracle(x, y), (i, d[i])


ws_texts = st.text(alphabet="ab \t\n\x0b\x0c\r\xa0 ", max_size=30)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(ws_texts, ws_texts), max_size=16))
def test_token_sets_jaccard_matches_java_semantics(pairs):
    """The fused UDF's Python tokenizer replicates the JVM expression
    tokens(x) = array_distinct(split(trim(x), '\\s+')) EXACTLY: trim
    strips ASCII space only, Java \\s is [ \\t\\n\\x0B\\f\\r] (never
    Unicode whitespace), boundary separators produce empty tokens."""
    import re as _re

    from neural_entity_matching_spark.functions.similarity import (
        _token_sets_jaccard,
    )

    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    ti, tu = _token_sets_jaccard(a, b)
    for i, (x, y) in enumerate(pairs):
        sx = set(_re.split("[ \t\n\x0b\x0c\r]+", x.strip(" ")))
        sy = set(_re.split("[ \t\n\x0b\x0c\r]+", y.strip(" ")))
        assert ti[i] == len(sx & sy)
        assert tu[i] == len(sx | sy)
