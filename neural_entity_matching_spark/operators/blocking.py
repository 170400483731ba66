"""Blocking: prune the O(n^2) pair space to candidate pairs.

Three blockers, mirroring the reference grid
(reference script/model_magellan_ml.py:383-396):

* MinHash-LSH (reference script/blocking_algorithms.py:83-176)
* word-token overlap (Magellan OverlapBlocker, blocking_algorithms.py:20-55)
* edit-distance cascade on survivors (blocking_algorithms.py:58-80 +
  script/utilities.py:492-502)

The reference walks Python dict buckets and emits ``itertools.combinations``
per bucket — a mega-bucket is quadratic with no guard
(blocking_algorithms.py:135-140). Here hot blocks are handled EXPLICITLY
(north rule): a bounded block-size cap drops oversized buckets *visibly*
(counted + returned in stats, never silent). ``lsh_block`` groups a small
signature table on the driver in numpy, within the
``driver_limits.LOCAL_MAX_SIGNATURES`` / ``LOCAL_MAX_SIGNATURE_BYTES``
bounds it checks with a capped collect of the text lengths and the
``LOCAL_MAX_BLOCK_PAIRS`` bound it checks before any pair exists, and
returns the pairs unpersisted, as a frame over Arrow batches. Every other
pair set is generated distributed, with joins under AQE skew handling.

Shuffle discipline of the distributed paths (the stage that binds at
cluster scale):

* ids are coded to int64 by ``xxhash64`` (collision-checked, no dense
  ranks) before any exchange — pair rows shuffle as 16 bytes instead of
  two strings, and the final decode back to real ids is a broadcast map
  join;
* block keys are int64 where the producer allows (LSH band keys);
* one table has one distributed path,
  ``grouped_pairs_from_block_keys`` (the one-table dedup operators, and
  ``lsh_block`` above its driver bounds): it builds each block's member
  array in one exchange and applies the cap to the array sizes; a block
  above ``physical_block_cap`` members makes it rebuild through a size
  pass and an eligibility join, so that block's array is buffered once;
* two tables have one path, ``two_table_pairs_from_block_keys``
  (``lsh_block``'s two-table mode and ``dedup.cross_corpus_dedup``): it
  runs the per-side size pass first and joins only blocks within the
  cap;
* every distributed pair set is returned persisted and counted
  (``stats.extra['n_pairs']``); intermediates are unpersisted before
  the blocker returns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_entity_matching_spark.functions.minhash import band_keys, band_keys_udf
from neural_entity_matching_spark.functions.similarity import lev_ratio, tokens
from neural_entity_matching_spark.operators.driver_limits import (
    LOCAL_MAX_BLOCK_PAIRS,
    LOCAL_MAX_SIGNATURE_BYTES,
    LOCAL_MAX_SIGNATURES,
)
from neural_entity_matching_spark.sources.io import arrow_frame


@dataclass
class BlockingStats:
    """Semantically-visible skew accounting (SURVEY.md §7 risk 3)."""

    total_blocks: int = 0
    oversized_blocks: int = 0
    dropped_memberships: int = 0
    capped_at: int | None = None
    extra: dict = field(default_factory=dict)


def lsh_band_keys(
    signatures: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    char_ngram: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(conv_id, block_key) rows — one per (doc, band), block_key an int64.

    block_key is deterministic and partition-invariant (seeded hashing only;
    SURVEY.md §7 risk 2). The band hash is already salted by band index
    inside the UDF, so the raw int64 IS the cross-band-unique key — keeping
    it numeric (instead of a "band:hash" string) cuts the band-key exchange
    bytes ~3x. These ARE the "fixed blocking keys" the F1 gate is evaluated
    at (frozen params per FIXTURES.md §4).
    """
    udf = band_keys_udf(num_hashes=num_hashes, bands=bands,
                        char_ngram=char_ngram, seed=seed)
    return (
        signatures
        .select("conv_id", udf(F.col("sig_text")).alias("bands"))
        .select("conv_id", F.explode("bands").alias("block_key"))
    )


def _id_mapping(ids: DataFrame) -> DataFrame:
    """(_id, iid = xxhash64(_id)) over the ``conv_id`` rows of ``ids``,
    returned persisted and checked by one aggregate: a null id raises
    ValueError("null input ids ..."), duplicate ids raise
    ValueError("duplicate input ids ..."), and an xxhash64 collision
    between distinct ids — it would merge two entities — raises
    ValueError("xxhash64 id collision ..."). Nothing stays persisted
    when it raises."""
    mapping = (
        ids.select(F.col("conv_id").alias("_id"))
        .withColumn("iid", F.xxhash64(F.col("_id")))
        .persist()
    )
    chk = mapping.agg(
        F.count("*").alias("n"), F.count("_id").alias("nn"),
        F.countDistinct("iid").alias("d")
    ).collect()[0]
    if chk["nn"] != chk["n"]:
        mapping.unpersist()
        raise _null_ids_error(chk["n"] - chk["nn"], chk["n"])
    if chk["n"] != chk["d"]:
        # failure path only: tell duplicate ids from a hash collision
        n_distinct = mapping.agg(F.countDistinct("_id")).collect()[0][0]
        mapping.unpersist()
        if n_distinct != chk["n"]:
            raise ValueError(
                f"duplicate input ids ({chk['n']} id rows, "
                f"{n_distinct} distinct); ids must be one row per entity"
            )
        raise ValueError(
            f"xxhash64 id collision ({chk['n']} ids -> {chk['d']} hashes)")
    return mapping


def _prepare_keys(
    keys: DataFrame,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Dictionary-encode ``conv_id`` to int64 (``xxhash64``).

    Returns (narrow keys (iid, block_key), mapping (_id, iid), persisted
    intermediates to release). The raw key table is persisted
    FIRST so the (typically expensive) upstream key producer — e.g. the
    minhash band UDF — runs exactly once across the mapping build, the
    stats pass and pair generation. The mapping dedup is partial-aggregated
    (ids repeat once per band within a partition, so the exchange carries
    ~n_docs rows, not n_docs * bands) and checked by ``_id_mapping``."""
    raw = keys.persist()
    try:
        mapping = _id_mapping(raw.select("conv_id").dropDuplicates())
    except ValueError:
        raw.unpersist()
        raise
    narrow = raw.select(F.xxhash64("conv_id").alias("iid"), "block_key")
    return narrow, mapping, [raw, mapping]


def _decode_pairs(iid_pairs: DataFrame, mapping: DataFrame) -> DataFrame:
    """Map (iid_a, iid_b) back to real ids via two broadcast map joins and
    re-canonicalize to conv_id_a < conv_id_b in id space."""
    m = F.broadcast(mapping)
    return (
        iid_pairs
        .join(m.select(F.col("iid").alias("iid_a"), F.col("_id").alias("_ida")), "iid_a")
        .join(m.select(F.col("iid").alias("iid_b"), F.col("_id").alias("_idb")), "iid_b")
        .select(
            F.least("_ida", "_idb").alias("conv_id_a"),
            F.greatest("_ida", "_idb").alias("conv_id_b"),
        )
    )


def _finalize(
    pairs: DataFrame,
    stats: BlockingStats,
    release: list[DataFrame],
) -> tuple[DataFrame, BlockingStats]:
    """Materialize the pair set (persist + count -> stats.extra['n_pairs'])
    and release every intermediate persist."""
    pairs = pairs.persist()
    stats.extra["n_pairs"] = pairs.count()
    for df in release:
        df.unpersist()
    return pairs, stats


def _null_ids_error(n_null: int, n: int) -> ValueError:
    # without the check, xxhash64(null) codes a null id like any other and
    # least/greatest drops the null end of its pairs, so every doc that
    # shares a block with it comes out as a self-pair (x, x)
    return ValueError(f"null input ids ({n_null} of {n} id rows); "
                      "ids must be non-null")


def grouped_pairs_from_block_keys(
    keys: DataFrame,
    ids: DataFrame,
    block_cap: int = 200,
    physical_block_cap: int = 1 << 20,
) -> tuple[DataFrame, BlockingStats]:
    """Grouped pair generation, SINGLE-PASS (r7, guide §2.4): one exchange
    of the (iid, block_key) membership set builds the member arrays AND
    the size stats. The earlier two-pass form (sizes agg -> eligibility
    join -> collect_list) exchanged the ~bands-per-doc membership set
    TWICE plus a join; at 66k sigs / 4.2M membership rows the removed
    exchange+join measured ~2s of a 15.5s blocking stage on local[32].

    Memory trade: member arrays buffer BEFORE the cap filter, bounded by
    the largest physical block at 8 bytes/member. If the size stats show
    any block above ``physical_block_cap`` the pair generation REBUILDS
    through the prune-before-collect shape (sizes -> eligibility join ->
    collect over survivors only), so a degenerate distribution buffers
    the oversized arrays exactly once, in the stats job that detects
    them. ``stats.extra['fallback']`` records the trigger.

    ``keys``: (conv_id, block_key) rows. ``ids``: the entity-id set, one
    ``conv_id`` row per entity (e.g. the signature table's id column). It
    builds the id mapping from a projection of the entity table, so
    ``keys`` streams straight into the group exchange with no persist
    and no dropDuplicates exchange over the membership rows.
    Precondition: ``ids`` covers every id in ``keys``: an id missing from
    it has no mapping row, so its pairs vanish in the decode join. A null
    id in ``ids`` raises ValueError("null input ids ..."), duplicate ids
    raise ValueError("duplicate input ids ..."), and an xxhash64
    collision between distinct ids raises ValueError("xxhash64 id
    collision ...").
    """
    mapping = _id_mapping(ids)
    release = [mapping]
    narrow = keys.select(F.xxhash64("conv_id").alias("iid"), "block_key")
    grouped = (
        narrow.groupBy("block_key")
        .agg(F.sort_array(F.collect_list("iid")).alias("ids"))
        .select("ids", F.size("ids").alias("bs"))
        .persist()
    )
    release.append(grouped)
    stats_row = grouped.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("bs") > block_cap, 1).otherwise(0)).alias("over"),
        F.sum(
            F.when(F.col("bs") > block_cap, F.col("bs")).otherwise(0)
        ).alias("dropped"),
        F.max("bs").alias("max_bs"),
    ).collect()[0]
    stats = BlockingStats(
        total_blocks=stats_row["total"] or 0,
        oversized_blocks=stats_row["over"] or 0,
        dropped_memberships=stats_row["dropped"] or 0,
        capped_at=block_cap,
        extra={"strategy": "grouped"},
    )
    if (stats_row["max_bs"] or 0) > physical_block_cap:
        # degenerate distribution: rebuild through prune-before-collect so
        # the mega block's member array never materializes again (it was
        # buffered exactly once, in the stats job above)
        grouped.unpersist()
        release.remove(grouped)
        narrow = narrow.persist()  # keys stream twice below
        release.append(narrow)
        sizes = narrow.groupBy("block_key").agg(F.count("*").alias("bs"))
        eligible = sizes.filter(
            (F.col("bs") >= 2) & (F.col("bs") <= block_cap)
        ).select("block_key")
        grouped = (
            narrow.join(eligible, "block_key")
            .groupBy("block_key")
            .agg(F.sort_array(F.collect_list("iid")).alias("ids"))
            .select("ids", F.size("ids").alias("bs"))
            .persist()
        )
        release.append(grouped)
        stats.extra["fallback"] = (
            f"prune-before-collect (max physical block "
            f"{stats_row['max_bs']} > {physical_block_cap})"
        )
    blocks = grouped.filter((F.col("bs") >= 2) & (F.col("bs") <= block_cap))
    pair_expr = (
        "flatten(transform(sequence(1, size(ids) - 1), i -> "
        "transform(slice(ids, i + 1, size(ids) - i), "
        "y -> struct(element_at(ids, i) AS iid_a, y AS iid_b))))"
    )
    pairs = (
        blocks.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.iid_a"), F.col("p.iid_b"))
        .dropDuplicates(["iid_a", "iid_b"])
    )
    return _finalize(_decode_pairs(pairs, mapping), stats, release)


def two_table_pairs_from_block_keys(
    keys_lhs: DataFrame,
    keys_rhs: DataFrame,
    block_cap: int = 200,
) -> tuple[DataFrame, BlockingStats]:
    """Two-table blocking: cross-side candidate pairs only.

    The reference blocks ACROSS two entity tables (Amazon vs Google) and
    keeps only lhs x rhs pairs — the lhs/rhs re-alignment at
    reference script/blocking_algorithms.py:149-172 and every
    ``run_magellan_models`` call (model_magellan_ml.py:183-193). Here each
    side's (conv_id, block_key) rows meet in an equi-join on block_key;
    same-side pairs never form because the join sides are distinct tables.

    Output preserves orientation: ``conv_id_a`` is always from the lhs
    table, ``conv_id_b`` from the rhs (the reference's ltable/rtable
    convention) — NOT canonicalized by value order.

    ``block_cap`` applies per side: a block whose lhs OR rhs membership
    exceeds the cap is dropped and counted (pair volume per surviving
    block <= cap^2). Blocks present on only one side are inert and are
    not counted. A null id on either side raises
    ValueError("null input ids ...").
    """
    la, ma, rel_a = _prepare_keys(keys_lhs)
    try:
        lb, mb, rel_b = _prepare_keys(keys_rhs)
    except ValueError:
        for df in rel_a:
            df.unpersist()
        raise
    release = rel_a + rel_b
    sizes = (
        la.groupBy("block_key").agg(F.count("*").alias("ca"))
        .join(lb.groupBy("block_key").agg(F.count("*").alias("cb")), "block_key")
        .persist()
    )
    release.append(sizes)
    over = (F.col("ca") > block_cap) | (F.col("cb") > block_cap)
    stats_row = sizes.agg(
        F.count("*").alias("total"),
        F.sum(over.cast("int")).alias("over"),
        F.sum(F.when(over, F.col("ca") + F.col("cb")).otherwise(0)).alias("dropped"),
    ).collect()[0]
    stats = BlockingStats(
        total_blocks=stats_row["total"] or 0,
        oversized_blocks=stats_row["over"] or 0,
        dropped_memberships=stats_row["dropped"] or 0,
        capped_at=block_cap,
        extra={"strategy": "two_table"},
    )
    eligible = sizes.filter(~over).select("block_key")
    pairs = (
        la.join(eligible, "block_key")
        .select("block_key", F.col("iid").alias("iid_a"))
        .join(lb.select("block_key", F.col("iid").alias("iid_b")), "block_key")
        .select("iid_a", "iid_b")
        .dropDuplicates(["iid_a", "iid_b"])
        .join(F.broadcast(ma).select(F.col("iid").alias("iid_a"),
                                     F.col("_id").alias("conv_id_a")), "iid_a")
        .join(F.broadcast(mb).select(F.col("iid").alias("iid_b"),
                                     F.col("_id").alias("conv_id_b")), "iid_b")
        .select("conv_id_a", "conv_id_b")
    )
    return _finalize(pairs, stats, release)


def lsh_block(
    signatures: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    char_ngram: int = 8,
    seed: int = 42,
    block_cap: int = 200,
    signatures_rhs: DataFrame | None = None,
) -> tuple[DataFrame, BlockingStats]:
    """Full MinHash-LSH blocker: signatures -> unique candidate pairs
    ``(conv_id_a < conv_id_b)``.

    One-table mode first sizes the signatures: one collect of the UTF-8
    lengths of ``sig_text``, capped at ``LOCAL_MAX_SIGNATURES + 1`` rows.
    Within ``LOCAL_MAX_SIGNATURES`` rows and
    ``LOCAL_MAX_SIGNATURE_BYTES`` bytes it blocks on the driver: one Arrow
    collect, the band-key kernel the UDF runs, one sort of the (doc, band
    key) memberships, and, within ``LOCAL_MAX_BLOCK_PAIRS`` pairs before
    dedup (counted from the block sizes before any pair exists), the pairs
    as an unpersisted frame over Arrow batches
    (``stats.extra['strategy'] == 'local'``). Over the pair bound the
    driver's band keys go to ``grouped_pairs_from_block_keys``; over either
    size bound the band-key UDF feeds it. Either way the grouped pairs are
    returned persisted. Every path gives the same pairs, the same
    ``BlockingStats`` and the same duplicate-id error.

    ``signatures_rhs``: two-table mode (reference ltable/rtable) — band
    keys are computed for both sides with the SAME seeded hash family and
    only cross-side pairs are emitted, through
    ``two_table_pairs_from_block_keys``."""
    if signatures_rhs is not None:
        return two_table_pairs_from_block_keys(
            lsh_band_keys(signatures, num_hashes, bands, char_ngram, seed),
            lsh_band_keys(signatures_rhs, num_hashes, bands, char_ngram, seed),
            block_cap=block_cap)
    local = _local_lsh_pairs(signatures, num_hashes, bands, char_ngram,
                             seed, block_cap)
    if local is not None:
        return local
    # signatures are one row per entity: their id column is the id set
    return grouped_pairs_from_block_keys(
        lsh_band_keys(signatures, num_hashes, bands, char_ngram, seed),
        signatures.select("conv_id"), block_cap=block_cap)


def _local_lsh_pairs(
    signatures: DataFrame,
    num_hashes: int,
    bands: int,
    char_ngram: int,
    seed: int,
    block_cap: int,
) -> tuple[DataFrame, BlockingStats] | None:
    """``lsh_block``'s one-table pairs computed on the driver, or None
    above ``LOCAL_MAX_SIGNATURES`` signatures or
    ``LOCAL_MAX_SIGNATURE_BYTES`` bytes of text. Above
    ``LOCAL_MAX_BLOCK_PAIRS`` pairs before dedup it hands the band keys
    it has computed to ``grouped_pairs_from_block_keys``.

    A collect of the text lengths, capped at ``LOCAL_MAX_SIGNATURES + 1``
    rows, sizes the table first, so no text over either bound leaves the
    executors; within them the rows arrive as one Arrow table, and the
    texts never become Python strings.

    Ids are coded by ``np.unique`` (numpy's order for str/int64 ids equals
    Spark's), so a block's members sort by id and each ``i < j`` position
    pair is already (least, greatest). Null and duplicate ids raise the
    grouped path's errors.
    """
    lengths = (signatures.select(F.octet_length("sig_text"))
               .limit(LOCAL_MAX_SIGNATURES + 1).collect())
    if (len(lengths) > LOCAL_MAX_SIGNATURES
            or sum(r[0] or 0 for r in lengths) > LOCAL_MAX_SIGNATURE_BYTES):
        return None
    table = signatures.select("conv_id", "sig_text").toArrow()
    n = table.num_rows
    ids = np.empty(n, dtype=object)
    ids[:] = table.column("conv_id").to_pylist()
    n_null = int(np.equal(ids, None).sum())
    if n_null:
        raise _null_ids_error(n_null, n)
    uniq, doc = np.unique(ids, return_inverse=True)
    if len(uniq) < n:
        raise ValueError(
            f"duplicate input ids ({n} id rows, {len(uniq)} distinct); "
            "ids must be one row per entity")
    doc_keys = band_keys(table.column("sig_text"), num_hashes, bands,
                         char_ngram, seed)
    doc = np.repeat(doc, bands)
    keys = doc_keys.ravel()
    order = np.lexsort((doc, keys))
    keys, doc = keys[order], doc[order]
    first = np.ones(len(keys), dtype=bool)
    first[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(first)
    sizes = np.diff(np.append(starts, len(keys)))
    over = sizes > block_cap
    kept = (sizes >= 2) & ~over
    spark = signatures.sparkSession
    if int((sizes[kept] * (sizes[kept] - 1) // 2).sum()) > LOCAL_MAX_BLOCK_PAIRS:
        # the keys, not the texts, go back: the band-key UDF does not rerun
        keys_df = arrow_frame(spark, pa.table({
            "conv_id": table.column("conv_id"),
            "bands": pa.ListArray.from_arrays(
                np.arange(0, n * bands + 1, bands, dtype=np.int32),
                doc_keys.ravel()),
        }))
        return grouped_pairs_from_block_keys(
            keys_df.select("conv_id", F.explode("bands").alias("block_key")),
            signatures.select("conv_id"), block_cap=block_cap)
    stats = BlockingStats(
        total_blocks=len(sizes),
        oversized_blocks=int(over.sum()),
        dropped_memberships=int(sizes[over].sum()),
        capped_at=block_cap,
        extra={"strategy": "local"},
    )
    n_codes = len(uniq)
    packed = [np.empty(0, dtype=np.int64)]
    for size in np.unique(sizes[kept]):
        members = doc[starts[kept & (sizes == size)][:, None] + np.arange(size)]
        i, j = np.triu_indices(size, 1)
        packed.append((members[:, i] * n_codes + members[:, j]).ravel())
    a, b = np.divmod(np.unique(np.concatenate(packed)), n_codes)
    stats.extra["n_pairs"] = len(a)
    vals = pa.array(uniq, type=table.schema.field("conv_id").type)
    return arrow_frame(spark, pa.table({
        "conv_id_a": vals.take(pa.array(a)),
        "conv_id_b": vals.take(pa.array(b)),
    })), stats


def token_overlap_block(
    signatures: DataFrame,
    min_shared_tokens: int = 2,
    text_col: str = "sig_text",
    id_col: str = "conv_id",
    max_token_df: int | None = 1000,
    signatures_rhs: DataFrame | None = None,
) -> tuple[DataFrame, BlockingStats]:
    """Word-level token-overlap blocker (>= min_shared_tokens shared tokens),
    the OverlapBlocker semantics of blocking_algorithms.py:34-53.

    Distributed as an inverted-index join: tokenize -> explode ->
    equi-join on token -> groupBy(pair) count >= k. ``max_token_df`` drops
    tokens appearing in more than that many docs (a stopword token would
    otherwise emit a quadratic pair explosion); dropped tokens are counted
    in stats — visible, like the block cap.

    ``signatures_rhs``: two-table mode (reference ltable/rtable,
    blocking_algorithms.py:34-53 blocks Amazon x Google) — the index join
    runs lhs-tokens x rhs-tokens, only cross-side pairs form, orientation
    is preserved (conv_id_a from lhs), and the token-df cap counts
    document frequency across BOTH sides.

    A null id on a doc with any token raises ValueError("null input ids
    ..."), counted in the aggregate that counts the hot tokens (one
    count over the token rows when ``max_token_df`` is None).
    """

    def _toks(df):
        return (
            df.select(F.col(id_col).alias("conv_id"),
                      F.explode(tokens(F.col(text_col))).alias("token"))
            .filter(F.length("token") > 0)
        )

    toks_a = _toks(signatures)
    toks_b = _toks(signatures_rhs) if signatures_rhs is not None else None
    stats = BlockingStats(
        capped_at=max_token_df,
        extra={"strategy": "two_table" if toks_b is not None else "self"},
    )
    both = toks_a if toks_b is None else toks_a.unionByName(toks_b)
    if max_token_df is None:
        chk = both.agg(F.count("*").alias("n"),
                       F.count("conv_id").alias("nn")).collect()[0]
    else:
        df_counts = both.groupBy("token").agg(
            F.count("*").alias("df"), F.count("conv_id").alias("nn"))
        chk = df_counts.agg(
            F.sum("df").alias("n"), F.sum("nn").alias("nn"),
            F.count(F.when(F.col("df") > max_token_df, 1)).alias("hot"),
        ).collect()[0]
    if chk["n"] != chk["nn"]:
        # self mode's a < b filter would drop a null id's pairs, two-table
        # mode would emit them as (None, b)
        raise _null_ids_error(chk["n"] - chk["nn"], chk["n"])
    if max_token_df is not None:
        stats.extra["hot_tokens_dropped"] = chk["hot"]
        hot = df_counts.filter(F.col("df") > max_token_df)
        hot_b = F.broadcast(hot.select("token"))
        toks_a = toks_a.join(hot_b, "token", "left_anti")
        if toks_b is not None:
            toks_b = toks_b.join(hot_b, "token", "left_anti")

    if toks_b is None:
        a = toks_a.select(F.col("token"), F.col("conv_id").alias("conv_id_a"))
        b = toks_a.select(F.col("token"), F.col("conv_id").alias("conv_id_b"))
        joined = a.join(b, "token").filter(F.col("conv_id_a") < F.col("conv_id_b"))
    else:
        a = toks_a.select(F.col("token"), F.col("conv_id").alias("conv_id_a"))
        b = toks_b.select(F.col("token"), F.col("conv_id").alias("conv_id_b"))
        joined = a.join(b, "token")
    pairs = (
        joined
        .groupBy("conv_id_a", "conv_id_b")
        .agg(F.count("*").alias("shared_tokens"))
        .filter(F.col("shared_tokens") >= min_shared_tokens)
        .select("conv_id_a", "conv_id_b")
    )
    return pairs, stats


def edit_distance_filter(
    candidates: DataFrame,
    signatures: DataFrame,
    cutoff_ratio: float = 60.0,
    id_col: str = "conv_id",
    text_col: str = "sig_text",
    metric: str = "lev_ratio",
) -> DataFrame:
    """Second stage of the reference's sequential cascade: keep candidate
    pairs whose edit-similarity ratio >= cutoff (calculate_edit_block_bool,
    reference script/utilities.py:492-502; grid cutoffs {50,60,70,80}).

    Cheap blocker first, expensive distance on survivors — the reference's
    one manual optimization (model_magellan_ml.py:189-191).

    ``metric`` — NORMALIZATION FIDELITY: the reference thresholds
    fuzz.ratio, the INDEL ratio ``100*(1 - indel/(len_a+len_b))``
    (substitutions cost 2), while the default ``'lev_ratio'`` here is
    ``100*(1 - levenshtein/max_len)`` on Spark's JVM codegen'd
    levenshtein. The two agree on pure insert/delete edits but diverge
    on substitutions (e.g. 'ab' vs 'ba': lev_ratio 0, indel 50), so the
    SAME cutoff values select different survivor sets. Pass
    ``metric='indel'`` for bit-exact reference parity — it routes
    through the Arrow-batched fuzz_ratio_udf, which dispatches to
    rapidfuzz's C ``fuzz.ratio`` when that package is importable on the
    workers and otherwise runs a vectorized numpy whole-batch LCS DP
    (length-sorted chunks, one np.maximum.accumulate per DP row — no
    per-string Python loop; rapidfuzz is absent from this image).
    Either way 'indel' is the slow path relative to the JVM
    'lev_ratio': keep 'lev_ratio' unless reference-identical survivor
    sets are required.
    """
    sig = signatures.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    )
    if metric == "indel":
        from neural_entity_matching_spark.functions.similarity import (
            fuzz_ratio_udf,
        )

        ratio = fuzz_ratio_udf(F.col("_txt_a"), F.col("_txt_b"))
    elif metric == "lev_ratio":
        ratio = lev_ratio(F.col("_txt_a"), F.col("_txt_b"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        candidates
        .join(sig.withColumnRenamed("_id", "conv_id_a")
                 .withColumnRenamed("_txt", "_txt_a"), "conv_id_a")
        .join(sig.withColumnRenamed("_id", "conv_id_b")
                 .withColumnRenamed("_txt", "_txt_b"), "conv_id_b")
        .filter(ratio >= cutoff_ratio)
        .select("conv_id_a", "conv_id_b")
    )
