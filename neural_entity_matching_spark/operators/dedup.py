"""Corpus deduplication operators for large-scale training-data pipelines.

Five strategies over a document table ``(id, text)``:

* exact          — hash-groupBy on a normalized fingerprint
* minhash_lsh    — MinHash banding candidates + exact n-gram Jaccard verify
                   (same primitives as the ER blocker, functions/minhash.py)
* simhash        — 64-bit SimHash, banded into 4x16-bit exact-match keys
                   (any pair within Hamming distance 3 shares >= 1 band by
                   pigeonhole over 4 bands), verified by true Hamming bits
* ngram_jaccard  — exact char-n-gram Jaccard inside a cheap block
* embedding_cosine — near-dup by embedding cosine >= t, LSH-bucketed via
                   random hyperplanes (operators/ann.py primitives)

All custom math is vectorized numpy inside pandas UDFs; pair generation is
always an equi-join on a block key (never a cross join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_entity_matching_spark.functions.minhash import band_keys_udf
from neural_entity_matching_spark.operators.blocking import (
    BlockingStats,
    grouped_pairs_from_block_keys,
    two_table_pairs_from_block_keys,
)


def normalize_fp(col):
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: keeper id (min), copy count."""
    return (
        docs.withColumn("fp", normalize_fp(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _ngram_col(col_name: str, n: int):
    """Distinct char n-grams hashed to int64 (xxhash64) — long arrays
    shuffle and intersect ~4x cheaper than string arrays; the 64-bit
    collision probability (~1e-15 per pair) is far below double rounding,
    and equality with the string-Jaccard oracle is verified in tests."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({col_name}) - {n - 1}, 1)),"
        f" i -> xxhash64(substring({col_name}, i, {n}))))"
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    char_ngram: int = 5,
    seed: int = 42,
    threshold: float = 0.4,
    block_cap: int = 2000,
) -> tuple[DataFrame, BlockingStats]:
    """Near-dup pairs with exact char-ngram Jaccard >= threshold, candidates
    from MinHash-LSH banding. A size-ratio prefilter (necessary condition
    j <= min/max sizes) prunes pairs before the array intersection —
    the standard length filter of set-similarity joins."""
    udf = band_keys_udf(num_hashes=num_hashes, bands=bands,
                        char_ngram=char_ngram, seed=seed)
    keys = (
        docs.select(F.col(id_col).cast("string").alias("conv_id"),
                    F.trim(F.col(text_col)).alias("t"))
        # band hashes are salted by band index inside the UDF, so the raw
        # int64 is already cross-band-unique — no string key needed
        .select("conv_id", F.explode(udf("t")).alias("block_key"))
    )
    # single-pass grouped pair-gen with the doc table as the pre-distinct
    # id set (r7): same candidate set as a block-key self-join, two fewer
    # membership exchanges and no raw-keys persist
    cand, stats = grouped_pairs_from_block_keys(
        keys, block_cap=block_cap,
        ids=docs.select(F.col(id_col).cast("string").alias("conv_id")))
    g = docs.select(
        F.col(id_col).cast("string").alias("cid"),
        F.col(id_col).alias("did"),
        _ngram_col(text_col, char_ngram).alias("g"),
    ).withColumn("sz", F.size("g"))
    pairs = (
        cand.join(g.select(F.col("cid").alias("conv_id_a"), F.col("did").alias("id_a"),
                           F.col("g").alias("ga"), F.col("sz").alias("sa")), "conv_id_a")
        .join(g.select(F.col("cid").alias("conv_id_b"), F.col("did").alias("id_b"),
                       F.col("g").alias("gb"), F.col("sz").alias("sb")), "conv_id_b")
        # size-ratio prefilter: jaccard <= min/max, so min/max < t => skip
        .filter(F.least("sa", "sb") >= threshold * F.greatest("sa", "sb"))
        # |A∪B| = |A|+|B|-|A∩B| — one hash pass instead of two
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn("jacc", F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")))
        .filter(F.col("jacc") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.round("jacc", 6).alias("jacc"),
        )
    ).persist()
    stats.extra["n_verified"] = pairs.count()
    cand.unpersist()  # candidates were materialized by the blocker
    return pairs, stats


def cross_corpus_dedup(
    docs: DataFrame,
    reference_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    char_ngram: int = 5,
    seed: int = 42,
    threshold: float = 0.4,
    block_cap: int = 2000,
) -> tuple[DataFrame, BlockingStats]:
    """Decontamination: near-duplicate pairs ACROSS two corpora (training
    docs x held-out/eval reference), the standard benchmark-leakage sweep
    of LLM training pipelines. Candidates come from the two-table
    MinHash-LSH join (same seeded hash family on both sides, only
    cross-corpus pairs form, per-side block caps), verified with exact
    char-n-gram Jaccard >= threshold behind the size-ratio prefilter.

    Output orientation is preserved: ``id_a`` is always from ``docs``
    (the corpus being cleaned), ``id_b`` from ``reference_docs`` — the
    caller anti-joins ``docs`` on id_a to drop contaminated rows.

    Pair generation is ``two_table_pairs_from_block_keys``, the same path
    as ``lsh_block``'s two-table mode: ids coded by ``xxhash64``, per-side
    block sizes first, then the lhs x rhs join of the blocks within the
    cap. A null ``id_col`` on either side raises
    ValueError("null input ids ...").
    """
    udf = band_keys_udf(num_hashes=num_hashes, bands=bands,
                        char_ngram=char_ngram, seed=seed)

    def _keys(d):
        return (
            d.select(F.col(id_col).cast("string").alias("conv_id"),
                     F.trim(F.col(text_col)).alias("t"))
            .select("conv_id", F.explode(udf("t")).alias("block_key"))
        )

    cand, stats = two_table_pairs_from_block_keys(
        _keys(docs), _keys(reference_docs), block_cap=block_cap)

    def _grams(d):
        return d.select(
            F.col(id_col).cast("string").alias("cid"),
            F.col(id_col).alias("did"),
            _ngram_col(text_col, char_ngram).alias("g"),
        ).withColumn("sz", F.size("g"))

    ga, gb = _grams(docs), _grams(reference_docs)
    pairs = (
        cand.join(ga.select(F.col("cid").alias("conv_id_a"), F.col("did").alias("id_a"),
                            F.col("g").alias("ga"), F.col("sz").alias("sa")), "conv_id_a")
        .join(gb.select(F.col("cid").alias("conv_id_b"), F.col("did").alias("id_b"),
                        F.col("g").alias("gb"), F.col("sz").alias("sb")), "conv_id_b")
        .filter(F.least("sa", "sb") >= threshold * F.greatest("sa", "sb"))
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn("jacc", F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")))
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", F.round("jacc", 6).alias("jacc"))
    ).persist()
    stats.extra["n_verified"] = pairs.count()
    cand.unpersist()
    return pairs, stats


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """(id, sh) — 64-bit SimHash over word tokens, computed entirely
    JVM-side: explode tokens -> xxhash64 -> per-bit ±1 vote sums ->
    sign-assembled hash. Zero Python in the plan (whole-stage codegen)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok", F.lit(seed)))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    sh = None
    for b in range(64):
        # shiftleft wraps at bit 63 into the sign bit — correct for uint64 view
        term = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh.bitwiseOR(term)
    return votes.select("id", sh.alias("sh"))


def simhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    block_cap: int = 2000,
) -> tuple[DataFrame, BlockingStats]:
    """Pairs within Hamming distance ``max_hamming`` of their 64-bit
    SimHash. Blocking: split the hash into 4 x 16-bit bands; by pigeonhole
    any pair with <= 3 differing bits agrees on >= 1 band exactly, so an
    equi-join on (band_idx, band_value) has recall 1.0 for d <= 3."""
    d = simhash_table(docs, id_col=id_col, text_col=text_col, seed=seed)
    # block_key packs (band_idx, 16-bit band value) into one int64 —
    # numeric keys shuffle ~3x cheaper than "idx:val" strings
    bands = d.select(
        "id",
        F.explode(
            F.array(*[
                F.lit(i << 16).cast("long").bitwiseOR(
                    F.shiftrightunsigned("sh", 16 * i).bitwiseAND(F.lit(0xFFFF))
                )
                for i in range(4)
            ])
        ).alias("block_key"),
    )

    keys = bands.select(F.col("id").cast("string").alias("conv_id"), "block_key")
    cand, stats = grouped_pairs_from_block_keys(
        keys, block_cap=block_cap,
        ids=d.select(F.col("id").cast("string").alias("conv_id")))
    payload = d.select(F.col("id").cast("string").alias("cid"),
                       F.col("id").alias("did"), "sh")
    pairs = (
        cand.join(payload.select(F.col("cid").alias("conv_id_a"),
                                 F.col("did").alias("id_a"), F.col("sh").alias("ha")), "conv_id_a")
        .join(payload.select(F.col("cid").alias("conv_id_b"),
                             F.col("did").alias("id_b"), F.col("sh").alias("hb")), "conv_id_b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"), "hamming")
    ).persist()
    stats.extra["n_verified"] = pairs.count()
    cand.unpersist()
    return pairs, stats


def ngram_jaccard_dedup(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact char-n-gram Jaccard >= threshold within a block column.

    Candidates come from the PREFIX FILTER of set-similarity joins
    (Chaudhuri/Ganti/Kaushik SSJoin; ppjoin family), not an all-pairs
    block join: sort each doc's gram set by ascending corpus frequency
    (rarest first, ties by gram value — deterministic) and keep the first
    ``|g| - ceil((t/(1+t))*|g|) + 1`` grams. Completeness (recall exactly
    1.0): J(A,B) >= t forces shared-gram count o >= ceil(c*(|A|+|B|)) for
    c = t/(1+t), while grams outside the two prefixes can hide at most
    (ceil(c|A|)-1) + (ceil(c|B|)-1) < o shared grams — so some shared
    gram sits in BOTH prefixes and the symmetric equi-join on
    (block, prefix gram) finds every qualifying pair. (The shorter
    floor((1-t)|g|)+1 probe prefix is only safe in the ordered
    probe-vs-index scheme, not a symmetric join.) A block column of fixed
    cardinality (e.g. ``source``) makes all-pairs O(N^2/|blocks|) at
    corpus scale; the prefix join grows with true near-dup density
    instead. Survivors are verified with the exact JVM intersection
    behind the standard size-ratio prefilter.
    """
    g = docs.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id"),
        _ngram_col(text_col, n).alias("g"),
    ).withColumn("sz", F.size("g")).persist()

    ex = g.select("blk", "id", "sz", F.explode("g").alias("gr"))
    gdf = ex.groupBy("gr").agg(F.count("*").alias("df"))
    # r7: the prefix (first |g| - ceil(t/(1+t)*|g|) + 1 grams by ascending
    # (df, gr)) used to come from a row_number window — a full SortExec
    # over the exploded gram set (~300 grams/doc), the dominant first-run
    # term at corpus scale (sort-based exchanges anti-scale with local
    # threads; see grouped_pairs docstring). Same prefix via one hash
    # aggregate + an O(g log g) per-doc array sort: sort_array over
    # (df, gr) structs orders lexicographically — exactly the window's
    # ORDER BY df, gr (grams are distinct per doc, so no ties) — then
    # slice to the prefix length and re-explode.
    packed = (
        ex.join(gdf, "gr")
        .groupBy("blk", "id", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "gr"))).alias("gs"))
        .withColumn(
            "pl",
            (F.col("sz")
             - F.ceil(F.lit(threshold / (1.0 + threshold)) * F.col("sz"))
             + 1).cast("int"),
        )
    )
    prefix = (
        packed.select(
            "blk", "id",
            F.explode(F.expr("slice(gs, 1, pl)")).alias("s"))
        .select("blk", F.col("s.gr").alias("gr"), "id")
    )
    cand = (
        prefix.select("blk", "gr", F.col("id").alias("id_a"))
        .join(prefix.select("blk", "gr", F.col("id").alias("id_b")), ["blk", "gr"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out = (
        cand
        .join(g.select(F.col("id").alias("id_a"), F.col("g").alias("ga"),
                       F.col("sz").alias("sa")), "id_a")
        .join(g.select(F.col("id").alias("id_b"), F.col("g").alias("gb"),
                       F.col("sz").alias("sb")), "id_b")
        .filter(F.least("sa", "sb") >= threshold * F.greatest("sa", "sb"))
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn("jacc", F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")))
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", F.round("jacc", 6).alias("jacc"))
    ).persist()
    out.count()
    g.unpersist()
    return out


def embedding_cosine_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    block_cap: int = 5000,
) -> tuple[DataFrame, BlockingStats]:
    """Near-dup by cosine >= threshold; candidates from random-hyperplane
    LSH sign buckets (operators/ann.py), verified with an exact JVM dot."""
    from neural_entity_matching_spark.operators.ann import hyperplane_bucket_udf

    b = hyperplane_bucket_udf(n_planes=n_planes, seed=seed)
    keyed = vectors.select(
        F.col(id_col).cast("string").alias("conv_id"),
        b(F.col(vec_col)).alias("block_key"),
    ).withColumn("block_key", F.col("block_key").cast("string"))
    cand, stats = grouped_pairs_from_block_keys(
        keyed, block_cap=block_cap,
        ids=vectors.select(F.col(id_col).cast("string").alias("conv_id")))
    dot = "aggregate(zip_with({0}, {1}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)"
    payload = vectors.select(
        F.col(id_col).cast("string").alias("cid"), F.col(id_col).alias("did"),
        F.col(vec_col).alias("e"),
    ).withColumn("nrm", F.expr("sqrt(" + dot.format("e", "e") + ")"))
    pairs = (
        cand.join(payload.select(F.col("cid").alias("conv_id_a"), F.col("did").alias("id_a"),
                                 F.col("e").alias("ea"), F.col("nrm").alias("na")), "conv_id_a")
        .join(payload.select(F.col("cid").alias("conv_id_b"), F.col("did").alias("id_b"),
                             F.col("e").alias("eb"), F.col("nrm").alias("nb")), "conv_id_b")
        .withColumn(
            "cos_sim",
            F.when(
                F.col("na") * F.col("nb") > 0,
                F.expr(dot.format("ea", "eb")) / (F.col("na") * F.col("nb")),
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                F.round("cos_sim", 6).alias("cos_sim"))
    ).persist()
    stats.extra["n_verified"] = pairs.count()
    cand.unpersist()
    return pairs, stats
