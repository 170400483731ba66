"""MinHash fingerprints + LSH band keys: one numpy kernel, run per Arrow
batch by the pandas UDFs and on the driver by ``lsh_block`` below its bound.

Semantics follow the reference (mattilyra/lsh used at
reference script/blocking_algorithms.py:83-140): character n-gram shingles
(strings shorter than the shingle width are right-padded with spaces —
the crash the reference documents at blocking_algorithms.py:117-119,196-197),
k seeded min-hashes, fingerprint split into b bands, each band hashed to a
bucket key. Co-bucketed ids become candidate pairs.

Exact bucket parity with the reference's hash family is NOT required (the
F1 metric is "at fixed blocking keys" that we define); what IS required is
determinism and partition-invariance: all hashing is seeded numpy uint64
arithmetic, no Python ``hash()``, no wall clock, no row order dependence.

Implementation is batch-vectorized: a slice of a batch's texts (about
1 MiB of UTF-8, so the per-byte temporaries stay bounded for long texts)
becomes one concatenated buffer (Arrow pads the short texts), every byte
position gets a rolling-polynomial shingle hash, and the windows that
cross a text boundary are dropped, leaving one flat uint64 array for the
slice. Texts of 2,048+ shingles keep only their distinct shingles (a
sort per long text; short texts are left as they are). Each of the k
seeded permutations is one multiply over the slice, and per-doc minima
come from ``np.minimum.reduceat``. No step loops over short texts in
Python; the UDFs build their output Series from one row view per text.

Candidate probability oracle for tests: p = 1 - (1 - s^r)^b
(reference script/utilities.py:525).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_FNV = np.uint64(1099511628211)
_POLY_BASE = np.uint64(1111111111111111111)  # odd 64-bit multiplier

# Version tag of the minhash permutation family. Band keys and
# fingerprints produced under different families are INCOMPATIBLE:
# any persisted artifact derived from them (pipeline candidate
# snapshots, incremental-ER sigs/keys stores) must carry this tag and
# refuse/rebuild on mismatch instead of silently mixing key spaces.
# History: v1 = per-seed xor+splitmix pipeline (rounds 1-3);
# v2 = odd-multiplier modular bijection over pre-mixed shingle hashes
# (round 4, kernel 6.3x).
HASH_FAMILY = "minhash-oddmul-v2"

# UTF-8 bytes (padding included) the kernel shingles at once: its uint64
# temporaries take ~40 bytes per text byte, so a slice peaks near 40 MiB
# however long a batch's texts are
_SLICE_BYTES = 1 << 20

# shortest text (in shingles) whose repeated shingles are dropped before
# the minhash pass. Short texts rarely repeat one (1.02 shingles per
# distinct one at ~500 B), so their sort is pure cost: deduping from 256
# shingles up took band_keys on 32,996 such texts from 1.9 s to 2.6 s
_DEDUP_MIN_SHINGLES = 2048


def _splitmix_mix(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mixer (splitmix64 finalizer), vectorized."""
    x = x.copy()
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def shingle_hashes(texts, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Splitmix-finalized rolling polynomial hashes of every char k-gram
    (k UTF-8 bytes) of every text, as one flat uint64 array plus each
    text's start offset into it.

    Nulls read as empty. Texts shorter than k code points are right-padded
    with spaces to k (reference rule, blocking_algorithms.py:117-119), so
    every text has >=1 shingle. The whole batch is one concatenated UTF-8
    buffer: one hash per byte position, then only the windows that end
    inside their own text are kept. A text's repeated shingles stay
    repeated; its minima are those of its shingle set either way.
    """
    arr = _as_arrow(texts)
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    arr = pc.utf8_rpad(pc.fill_null(arr, ""), width=k, padding=" ")
    bufs = arr.buffers()
    ends = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset:arr.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[: ends[-1]]
    n_pos = len(data) - k + 1
    powers = _POLY_BASE ** np.arange(k, dtype=np.uint64)  # wraps mod 2^64
    h = data[:n_pos].astype(np.uint64)
    tmp = np.empty(n_pos, dtype=np.uint64)
    for j in range(1, k):
        np.multiply(data[j:j + n_pos], powers[j], out=tmp)
        h += tmp
    del tmp
    counts = np.diff(ends) - (k - 1)  # >= 1: padding gives >= k bytes
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    pos = np.arange(offsets[-1] + counts[-1]) + np.repeat(ends[:-1] - offsets, counts)
    return _splitmix_mix(h[pos]), offsets


def _as_arrow(texts) -> pa.Array:
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if isinstance(texts, pa.Array):
        return texts.cast(pa.large_string())
    return pa.array(texts, type=pa.large_string(), from_pandas=True)


def _minhash_slices(texts: pa.Array, k: int, seeds: np.ndarray):
    """Yields (first text, (n_slice_texts, len(seeds)) minima) over
    consecutive slices of at most ``_SLICE_BYTES`` padded UTF-8 bytes (one
    text when a single text is longer), so the shingling temporaries are
    bounded by bytes, not by the batch's row count."""
    n = len(texts)
    if n == 0:
        return
    ends = np.frombuffer(texts.buffers()[1], dtype=np.int64)[
        texts.offset:texts.offset + n + 1]
    # padding adds at most k bytes per text
    cum = ends - ends[0] + k * np.arange(n + 1)
    lo = 0
    while lo < n:
        hi = int(np.searchsorted(cum, cum[lo] + _SLICE_BYTES, side="right")) - 1
        hi = max(hi, lo + 1)
        flat, offsets = shingle_hashes(texts.slice(lo, hi - lo), k)
        yield lo, _minhash_matrix(*_dedup_long_texts(flat, offsets), seeds)
        lo = hi


def _dedup_long_texts(flat: np.ndarray, offsets: np.ndarray):
    """Each text of at least ``_DEDUP_MIN_SHINGLES`` shingles keeps only
    its distinct shingles; shorter texts are left as they are. Minima, so
    fingerprints and band keys, are the same either way. Long texts repeat
    shingles (a transcript's recurring lines), and each repeat would cost
    the minhash pass a multiply per seed: 2,472 texts of ~20 KB repeat
    each shingle 2.26 times on average, and deduping them took
    ``band_keys`` on one thread from 5.9-6.7 s to 5.1-5.3 s."""
    ends = np.append(offsets[1:], len(flat))
    long_texts = np.flatnonzero(ends - offsets >= _DEDUP_MIN_SHINGLES)
    if len(long_texts) == 0:
        return flat, offsets
    parts, lens, prev = [], ends - offsets, 0
    for t in long_texts:
        parts.append(flat[prev:offsets[t]])
        distinct = np.unique(flat[offsets[t]:ends[t]])
        parts.append(distinct)
        lens[t] = len(distinct)
        prev = ends[t]
    parts.append(flat[prev:])
    offsets = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    return np.concatenate(parts), offsets


def _minhash_matrix(flat: np.ndarray, offsets: np.ndarray,
                    seeds: np.ndarray, chunk_shingles: int = 1 << 16) -> np.ndarray:
    """(n_docs, k) per-doc minima under k seeded permutations of the
    shingle-hash space.

    Permutation family: each seed is forced odd and applied as one
    modular multiplication over Z/2^64 — an exact bijection, so min-of-
    permutation semantics hold, and the minimum is decided by the
    product's high bits, which are well mixed because the shingle hashes
    are already splitmix64-finalized uniform values. Replacing the
    earlier per-seed xor+splitmix pipeline (7 vector ops) with one
    multiply + reduceat measured 6.3x on the kernel with Jaccard-
    estimation error unchanged (mean abs err 0.029 vs 0.032 at k=128,
    both at the theoretical SE — see round-4 notes).

    Two levels of memory-traffic discipline (the naive (S, k) matrix
    form is DRAM-bandwidth-bound and *anti-scales* with executor
    threads — measured 98s -> 4s on 3.3M shingles x 128 seeds):

    1. loop over the k seeds with (chunk,)-sized temporaries, never an
       (S, k) matrix;
    2. tile the flat shingle array into doc-group chunks of
       <= ``chunk_shingles`` hashes (~512 KiB) so all k per-seed passes
       over a chunk run L2-resident instead of streaming the whole
       multi-MB batch from DRAM k times. With 8+ workers per box the
       un-tiled form saturates the socket's DRAM bandwidth and stops
       scaling with cores; the tiled form scales like compute.
    """
    mult = seeds | np.uint64(1)
    k = len(seeds)
    n = len(offsets)
    mins = np.empty((n, k), dtype=np.uint64)
    if n == 0:
        return mins
    bounds = np.append(offsets, len(flat))
    doc_lens = np.diff(bounds)
    cap = max(chunk_shingles, int(doc_lens.max()))
    buf = np.empty(cap, dtype=np.uint64)
    i = 0
    while i < n:
        j = i + 1
        while j < n and bounds[j + 1] - bounds[i] <= cap:
            j += 1
        sl = flat[bounds[i]:bounds[j]]
        off = offsets[i:j] - bounds[i]
        b = buf[: len(sl)]
        for sd in range(k):
            np.multiply(sl, mult[sd], out=b)
            mins[i:j, sd] = np.minimum.reduceat(b, off)
        i = j
    return mins


def _seeds(num_hashes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(1, 2**63 - 1, size=num_hashes).astype(np.uint64)


def _check_bands(num_hashes: int, bands: int) -> None:
    """k % bands == 0, as the reference enforces seeds % bands == 0
    (blocking_algorithms.py:97-98)."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes must be a multiple of bands: {num_hashes} % {bands} != 0")


def band_keys(texts, num_hashes: int = 128, bands: int = 32, char_ngram: int = 8,
              seed: int = 42) -> np.ndarray:
    """(n_texts, bands) int64 band-bucket keys of a batch of texts (nulls
    read as empty). The one MinHash kernel: ``band_keys_udf`` runs it per
    Arrow batch, and ``lsh_block`` on the driver below its bound."""
    _check_bands(num_hashes, bands)
    texts = _as_arrow(texts)
    seeds = _seeds(num_hashes, seed)
    salt = _splitmix_mix(np.arange(bands, dtype=np.uint64))[None, :]
    out = np.empty((len(texts), bands), dtype=np.uint64)
    for lo, mins in _minhash_slices(texts, char_ngram, seeds):
        # FNV-fold each band's slice into one bucket key, salt by band index
        mins = mins.reshape(len(mins), bands, num_hashes // bands)
        keys = np.full((len(mins), bands), np.uint64(0xCBF29CE484222325))
        for r in range(mins.shape[2]):
            keys = (keys * _FNV) ^ mins[:, :, r]
        out[lo:lo + len(keys)] = keys ^ salt
    return out.view(np.int64)


def band_keys_udf(num_hashes: int = 128, bands: int = 32, char_ngram: int = 8,
                  seed: int = 42):
    """Returns a pandas UDF: text -> array<long> of ``bands`` band-bucket
    keys (``band_keys`` per batch)."""
    _check_bands(num_hashes, bands)

    @F.pandas_udf(ArrayType(LongType()))
    def _band_keys(texts: pd.Series) -> pd.Series:
        keys = band_keys(texts, num_hashes, bands, char_ngram, seed)
        return pd.Series(list(keys), dtype=object)

    return _band_keys


def minhash_signature_udf(num_hashes: int = 128, char_ngram: int = 8,
                          seed: int = 42):
    """Raw k-minhash fingerprint (array<long>) — used by dedup operators that
    estimate Jaccard from fingerprint agreement rather than banding."""
    seeds = _seeds(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def _fingerprint(texts: pd.Series) -> pd.Series:
        texts = _as_arrow(texts)
        mins = np.empty((len(texts), num_hashes), dtype=np.uint64)
        for lo, m in _minhash_slices(texts, char_ngram, seeds):
            mins[lo:lo + len(m)] = m
        return pd.Series(list(mins.view(np.int64)), dtype=object)

    return _fingerprint


def candidate_probability(s: float, rows_per_band: int, bands: int) -> float:
    """Analytical LSH oracle p = 1 - (1 - s^r)^b (reference utilities.py:525)."""
    return 1.0 - (1.0 - s**rows_per_band) ** bands
