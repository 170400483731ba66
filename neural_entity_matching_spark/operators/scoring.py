"""Pairwise featurization + scoring.

Reference flow: Magellan auto feature gen over candidate pairs
(reference script/model_magellan_ml.py:37-114), label attach via left join
+ NaN->0 (model_magellan_ml.py:207-208), shallow matcher or the degenerate
blocker-as-matcher bypass when post-blocking labels are single-class
(model_magellan_ml.py:119-134,214-219).

Two scoring paths. ``featurize_pairs`` computes the feature table with
one fused Arrow UDF (Myers Levenshtein + token-set sizes) and JVM float
expressions over its integers; it feeds the trained matchers and
``threshold_scorer``. ``featurize_pairs_local`` and
``attach_labels_local`` are the same steps on driver-held Arrow tables,
with the UDF's kernel (``similarity.lev_tokjac``) and bit-identical
results, for the logistic scored stage below its bound
(plans/pipeline.py). ``fast_threshold_score`` is the threshold
pipeline's all-JVM filter-then-verify cascade. Both fetch the payload
with two joins back to the signature table (the reference's pair
re-alignment dance at blocking_algorithms.py:149-172 disappears because
pairs carry (conv_id_a, conv_id_b) columns from the start).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_entity_matching_spark.functions.similarity import (
    LEV_PREFIX,
    jaro_winkler_udf,
    len_ratio,
    lev_tokjac,
    lev_tokjac_udf,
)

FEATURE_COLS = ["lev_ratio", "token_jaccard", "len_ratio"]
# the full north-star matcher vector: "batched Jaro-Winkler, Levenshtein,
# TF-IDF cosine" (BASELINE.json) + the cheap features Magellan would
# auto-generate; produced by featurize_pairs(with_jaro_winkler=True,
# with_tfidf=True)
FULL_FEATURE_COLS = FEATURE_COLS + ["jaro_winkler", "tfidf_cosine"]


def tfidf_doc_weights(
    signatures: DataFrame,
    text_col: str = "sig_text",
    id_col: str = "conv_id",
    max_df: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """(conv_id, tw: map<bigint,double>) — L2-normalized TF-IDF weights over
    xxhash64'd word tokens (the "pre-computed per-doc weight map" the pair
    featurizer joins; string tokens never shuffle).

    idf = ln(1 + N/df). ``max_df`` drops corpus-hot tokens from the
    representation entirely (weights AND norm) — the standard df cap that
    keeps any downstream inverted-index use linear. Distributed shape: one
    (doc, token-hash) aggregate, one token-df aggregate, one join back,
    one per-doc map aggregate; no UDF, no collect.

    ``n_docs``: pass the corpus size when the caller already knows it;
    otherwise N is folded into the lazy plan as a broadcast 1-row
    aggregate (cross join) — either way no extra eager ``count()`` job
    fires when the weights are built.
    """
    toks = (
        signatures.select(
            F.col(id_col).alias("conv_id"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .select("conv_id", F.xxhash64("tok").alias("th"))
    )
    tf = toks.groupBy("conv_id", "th").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("th").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    w = tf.join(dfreq, "th")
    if n_docs is not None:
        w = w.withColumn("_n", F.lit(float(n_docs)))
    else:
        n_row = signatures.agg(
            F.count("*").cast("double").alias("_n"))
        w = w.crossJoin(F.broadcast(n_row))
    w = (
        w.withColumn("idf", F.log(F.lit(1.0) + F.col("_n") / F.col("df")))
        .withColumn("w", F.col("tf") * F.col("idf"))
        .drop("_n")
    )
    per_doc = w.groupBy("conv_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("th").alias("k"), F.col("w").alias("v")))
        ).alias("tw_raw"),
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"),
    )
    return per_doc.select(
        "conv_id",
        F.when(
            F.col("nrm") > 0,
            F.expr("transform_values(tw_raw, (k, v) -> v / nrm)"),
        ).otherwise(F.expr("map()")).alias("tw"),
    )


# unit-normalized maps: cosine == dot. map_zip_with unions the key sets;
# absent keys contribute 0.
_TFIDF_DOT = (
    "aggregate(map_values(map_zip_with({0}, {1},"
    " (k, x, y) -> coalesce(x, 0D) * coalesce(y, 0D))),"
    " 0D, (acc, v) -> acc + v)"
)


def featurize_pairs(
    candidates: DataFrame,
    signatures: DataFrame,
    with_jaro_winkler: bool = False,
    broadcast_signatures: bool = False,
    with_tfidf: bool = False,
    tfidf_max_df: int | None = None,
    tfidf_n_docs: int | None = None,
    with_embedding: bool = False,
    embedding_dim: int = 64,
) -> DataFrame:
    """Attach (sig_a, sig_b) payloads and compute pair features.

    The Levenshtein distance and the token intersect/union sizes come
    from ONE fused Arrow pass (``lev_tokjac_udf``: batch-vectorized Myers
    kernel + exact-Spark-semantics tokenizer); lev_ratio / token_jaccard
    / len_ratio are JVM float expressions over the returned integers,
    bit-identical to the all-JVM formulation (similarity.lev_ratio /
    token_jaccard / len_ratio). The Jaro-Winkler pandas UDF is opt-in
    (Arrow batch per partition).

    ``with_tfidf`` adds the north-star TF-IDF cosine: per-doc normalized
    weight maps are precomputed ONCE over the signature table
    (tfidf_doc_weights) and joined to the pairs; the per-pair cosine is a
    JVM map_zip_with dot — O(|a|+|b|) per pair, no UDF.

    ``with_embedding`` adds the optional sentence-embedding cosine from
    the deterministic hash-embedding stand-in
    (functions/embedding.py — swap in a real encoder outside this
    sandbox); per-doc vectors computed once, pair cosine is a JVM
    zip_with dot.

    Edit window: Levenshtein is O(len_a * len_b / 64) word ops PER
    PAIR — on unbounded multi-turn signatures that term dominates the
    whole pipeline, so the edit ratio is computed over the first
    ``similarity.LEV_PREFIX`` (512) normalized chars. Token-Jaccard and
    length features still see the full signature. At 10^12-turn scale a
    bounded edit window is the only viable contract; the F1 gate is
    enforced on exactly this definition.

    Scale note: both payload joins shuffle on conv_id — the same key the
    signature table is already hash-partitioned on, so AQE keeps them
    cheap; candidates is the smaller post-blocking side.
    """
    sig = signatures.select("conv_id", "sig_text")
    if broadcast_signatures:
        # Both payload joins become broadcast-hash joins — zero shuffle of
        # the (much larger) pair table. Only valid while the signature
        # table fits an executor; at 10^12-turn scale leave False and let
        # AQE plan the shuffled join on the bucketed conv_id.
        sig = F.broadcast(sig)
    la = F.substring("sig_a", 1, LEV_PREFIX)
    lb = F.substring("sig_b", 1, LEV_PREFIX)

    def _side(suffix: str) -> DataFrame:
        return (sig.withColumnRenamed("conv_id", f"conv_id_{suffix}")
                   .withColumnRenamed("sig_text", f"sig_{suffix}"))

    # ONE Arrow pass computes the exact Levenshtein distance
    # (batch-vectorized Myers kernel, O(n*ceil(m/64)) instead of O(n*m) —
    # integer-identical to F.levenshtein) AND the distinct-token
    # intersect/union sizes (exact Spark trim/split semantics, memoized
    # per signature). lev_ratio / token_jaccard are reconstructed with
    # float expressions copied term-for-term from similarity.lev_ratio /
    # token_jaccard, so every double is bit-identical to the JVM
    # expressions (oracle-checked by pair_features). featurize_pairs_local
    # computes the same three expressions in numpy: a change to one must
    # reach the other (test_local_scoring compares them bit for bit).
    out = (
        candidates.join(_side("a"), "conv_id_a").join(_side("b"), "conv_id_b")
        .withColumn(
            "_lj", lev_tokjac_udf(F.col("sig_a"), F.col("sig_b")))
        .withColumn(
            "lev_ratio",
            100.0
            * (
                1.0
                - F.col("_lj.d")
                / F.greatest(F.length(la), F.length(lb), F.lit(1))
            ),
        )
        .withColumn(
            "token_jaccard",
            F.when(F.col("_lj.tu") > 0, F.col("_lj.ti") / F.col("_lj.tu"))
             .otherwise(F.lit(0.0)),
        )
        .drop("_lj")
    )
    out = out.withColumn("len_ratio", len_ratio(F.col("sig_a"), F.col("sig_b")))
    if with_jaro_winkler:
        out = out.withColumn(
            "jaro_winkler", jaro_winkler_udf(F.col("sig_a"), F.col("sig_b"))
        )
    if with_tfidf:
        tw = tfidf_doc_weights(signatures, max_df=tfidf_max_df,
                               n_docs=tfidf_n_docs)
        if broadcast_signatures:
            tw = F.broadcast(tw)
        # LEFT join + empty-map default: a doc whose signature has zero
        # tokens gets no weight row, and an inner join here would silently
        # drop its candidate pairs from the feature table (row set must
        # not depend on which feature columns are enabled — the embedding
        # path below is total for the same reason).
        out = (
            out
            .join(tw.select(F.col("conv_id").alias("conv_id_a"),
                            F.col("tw").alias("tw_a")), "conv_id_a", "left")
            .join(tw.select(F.col("conv_id").alias("conv_id_b"),
                            F.col("tw").alias("tw_b")), "conv_id_b", "left")
            .withColumn("tw_a", F.coalesce(F.col("tw_a"), F.expr("map()")))
            .withColumn("tw_b", F.coalesce(F.col("tw_b"), F.expr("map()")))
            .withColumn("tfidf_cosine", F.expr(_TFIDF_DOT.format("tw_a", "tw_b")))
            .drop("tw_a", "tw_b")
        )
    if with_embedding:
        from neural_entity_matching_spark.functions.embedding import (
            embed_signatures,
        )

        emb = embed_signatures(signatures, dim=embedding_dim)
        if broadcast_signatures:
            emb = F.broadcast(emb)
        dot = ("aggregate(zip_with({0}, {1}, (x, y) -> x * y),"
               " 0D, (acc, v) -> acc + v)")
        out = (
            out
            .join(emb.select(F.col("conv_id").alias("conv_id_a"),
                             F.col("emb").alias("emb_a")), "conv_id_a")
            .join(emb.select(F.col("conv_id").alias("conv_id_b"),
                             F.col("emb").alias("emb_b")), "conv_id_b")
            # vectors are unit-or-zero norm: the dot IS the cosine
            .withColumn("embedding_cosine", F.expr(dot.format("emb_a", "emb_b")))
            .drop("emb_a", "emb_b")
        )
    return out.drop("sig_a", "sig_b")


def featurize_pairs_local(candidates: pa.Table,
                          signatures: pa.Table) -> pa.Table:
    """``featurize_pairs`` (default features) on driver-held Arrow tables:
    the same rows, the same column order and bit-identical doubles.

    ``signatures`` holds ``conv_id`` and ``sig_text``, plain or dictionary
    encoded. As in the two inner joins, a candidate whose id has no
    signature row (a null id matches none) is dropped, and a duplicate
    signature id repeats the candidate. ``lev_tokjac`` runs once over every
    pair, with chunks sized for one process (its Levenshtein step on the
    4,128 seed-42 pairs: 0.68-0.70 s at 8,192 rows and 8M cells against
    0.93-1.02 s at the UDF's 2,048 rows and 1M cells). The ratios are
    featurize_pairs' JVM expressions in float64, null semantics included:
    a null text gives a null ``lev_ratio``, a ``token_jaccard`` of 0.0
    (``when`` takes a null test as false) and a ``len_ratio`` over the
    other text's length (``least``/``greatest`` skip nulls)."""
    text = signatures.column("sig_text").combine_chunks()
    if not pa.types.is_dictionary(text.type):
        text = pc.dictionary_encode(text)
    # code n (one past the distinct texts) stands for a null text
    n = len(text.dictionary)
    vals = np.append(text.dictionary.to_numpy(zero_copy_only=False), "")
    lens = np.append(pc.utf8_length(text.dictionary).to_numpy(), 0)
    codes = pa.table({
        "conv_id": signatures.column("conv_id"),
        "_code": pc.fill_null(text.indices.cast(pa.int64()), n),
    })

    def side(s: str) -> pa.Table:
        return codes.rename_columns([f"conv_id_{s}", f"_code_{s}"])

    pairs = (candidates
             .join(side("a"), "conv_id_a", join_type="inner", use_threads=False)
             .join(side("b"), "conv_id_b", join_type="inner", use_threads=False))
    ca = pairs.column("_code_a").to_numpy()
    cb = pairs.column("_code_b").to_numpy()
    null_a, null_b = ca == n, cb == n
    ok = ~(null_a | null_b)
    d, ti, tu = lev_tokjac(vals[ca[ok]], vals[cb[ok]],
                           chunk=8192, cell_budget=1 << 23)
    la, lb = lens[ca], lens[cb]  # 0 for a null text
    # featurize_pairs' lev_ratio: 100.0 * (1.0 - _lj.d /
    # greatest(length(substring(sig_a, 1, LEV_PREFIX)), length(...b), 1)),
    # null where the UDF's d is null
    pla, plb = np.minimum(la[ok], LEV_PREFIX), np.minimum(lb[ok], LEV_PREFIX)
    lev = np.zeros(len(ca))
    lev[ok] = 100.0 * (1.0 - d / np.maximum(np.maximum(pla, plb), 1))
    # its token_jaccard: when(_lj.tu > 0, _lj.ti / _lj.tu).otherwise(0.0),
    # where a null tu fails the test
    jac = np.zeros(len(ca))
    jac[ok] = np.divide(ti, tu, out=np.zeros(len(ti)), where=tu > 0)
    # similarity.len_ratio: least(length(a), length(b)) /
    # greatest(length(a), length(b), 1), least and greatest skipping nulls
    lo = np.where(null_a, lb, np.where(null_b, la, np.minimum(la, lb)))
    lenr = lo / np.maximum(np.maximum(la, lb), 1)
    # the joins' column order: each using-key first, then the rest
    cols = ["conv_id_a"] + [c for c in candidates.column_names
                            if c != "conv_id_a"]
    cols = ["conv_id_b"] + [c for c in cols if c != "conv_id_b"]
    return pa.table(
        [pairs.column(c) for c in cols]
        + [pa.array(lev, mask=~ok), pa.array(jac),
           pa.array(lenr, mask=null_a & null_b)],
        names=cols + FEATURE_COLS)


def fast_threshold_score(
    candidates: DataFrame,
    signatures: DataFrame,
    threshold: float = 0.55,
    w_lev: float = 0.5,
    w_jacc: float = 0.5,
    broadcast_signatures: bool = False,
) -> DataFrame:
    """Decision-exact fused featurize+score using *thresholded* levenshtein.

    Full O(n*m) edit distance on every candidate pair dominates the whole
    pipeline, yet for most pairs (dissimilar hard negatives) the decision
    only needs to know the ratio is BELOW what the threshold requires.
    Cascade per pair:

      1. token_jaccard (cheap JVM array op);
      2. if even an identical string (d=0) could not reach the threshold —
         evaluated with the SAME float expression the exact scorer uses —
         skip the edit distance entirely;
      3. else run ``levenshtein(a, b, k)`` with k = floor((1-required)
         * maxlen) + 1: Spark's banded implementation costs O(k*n) instead
         of O(n^2) and returns -1 when the distance exceeds k.

    ``is_match`` is BIT-IDENTICAL to featurize_pairs + threshold_scorer:
    the band is one wider than the analytic cutoff (floor+1 strictly
    bounds any IEEE rounding of the cutoff expression), and the decision
    is derived from the reconstructed score via the *identical* float
    expression (``score >= threshold``), never from band exhaustion —
    so threshold-boundary pairs land exactly where the exact path puts
    them. When the band is exhausted (_d = -1) the true score is strictly
    below what the threshold requires, hence is_match = 0 is also exact.
    ``score`` is exact for every pair whose distance fell inside the band
    and a sub-threshold upper bound otherwise. Use featurize_pairs +
    threshold_scorer when exact sub-threshold scores matter (PR curves
    over negatives, ML feature tables).

    CONSUMPTION RULE: materialize (persist/snapshot-write) before
    filtering on ``is_match``/``score``. A filter applied to the lazy
    plan gets pushed through the projection chain by Catalyst, which
    substitutes the whole banded-levenshtein cascade into the predicate
    and re-evaluates it per reference — measured 20x wall on 11.6M pairs
    (313s vs 16s). Aggregations (``agg(sum(is_match))``) are safe; the
    staged pipeline is safe (the scored stage is snapshot-written before
    the cluster stage filters it).

    Allocation discipline: tokenization happens ONCE per signature (into
    hashed int64 arrays), never per pair — per-pair split/distinct on the
    full text makes the whole stage allocation-stall bound (measured: 32
    threads pinned at ~25% CPU each, i.e. 8 effective cores, identical
    wall at 8 and 32 threads).

    ``broadcast_signatures``: both payload joins become broadcast-hash
    joins (same contract as in featurize_pairs).
    """
    sig = signatures.select(
        "conv_id",
        F.substring("sig_text", 1, LEV_PREFIX).alias("sig_lev"),
        F.length("sig_text").alias("sig_len"),
        F.expr(
            "array_distinct(transform(split(trim(sig_text), '\\\\s+'), x -> xxhash64(x)))"
        ).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    if broadcast_signatures:
        sig = F.broadcast(sig)
    out = (
        candidates
        .join(sig.select(F.col("conv_id").alias("conv_id_a"), F.col("sig_lev").alias("_a"),
                         F.col("sig_len").alias("len_a"), F.col("toks").alias("toks_a"),
                         F.col("n_toks").alias("nt_a")), "conv_id_a")
        .join(sig.select(F.col("conv_id").alias("conv_id_b"), F.col("sig_lev").alias("_b"),
                         F.col("sig_len").alias("len_b"), F.col("toks").alias("toks_b"),
                         F.col("n_toks").alias("nt_b")), "conv_id_b")
        .withColumn("_inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "token_jaccard",
            F.when(F.col("nt_a") + F.col("nt_b") - F.col("_inter") > 0,
                   F.col("_inter") / (F.col("nt_a") + F.col("nt_b") - F.col("_inter")))
             .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "len_ratio",
            F.least("len_a", "len_b") / F.greatest("len_a", "len_b", F.lit(1)),
        )
        .withColumn("_maxlen", F.greatest(F.length("_a"), F.length("_b"), F.lit(1)))
        .withColumn(
            "_req",  # edit ratio (0..1) still needed after the jaccard part
            (F.lit(threshold) - F.lit(w_jacc) * F.col("token_jaccard")) / F.lit(w_lev),
        )
        # band ONE wider than the analytic cutoff: floor(x)+1 > x for any
        # IEEE rounding of x, so every distance the exact comparison could
        # accept is inside the band
        .withColumn(
            "_k",
            F.floor((F.lit(1.0) - F.col("_req")) * F.col("_maxlen")).cast("int")
            + F.lit(1),
        )
        # skip the edit distance only when even d=0 cannot match, decided
        # by the same float expression as the exact scorer at lev_ratio=100
        .withColumn(
            "_smax",
            F.lit(w_lev) * F.lit(100.0) / 100.0
            + F.lit(w_jacc) * F.col("token_jaccard"),
        )
        .withColumn(
            "_d",
            F.when(F.col("_smax") < F.lit(threshold), F.lit(-1))
             # SQL form: the banded threshold argument is only accepted as
             # an expression through the SQL function, not the Python API
             .otherwise(F.expr("levenshtein(_a, _b, greatest(_k, 1))")),
        )
        .withColumn(
            "lev_ratio",
            F.when(F.col("_d") >= 0,
                   100.0 * (1.0 - F.col("_d") / F.col("_maxlen")))
             # banded search exhausted: true ratio < required — report the
             # tightest upper bound, kept strictly below the required ratio
             .otherwise(
                 F.greatest(
                     F.least(
                         100.0 * (1.0 - (F.col("_k") + 1) / F.col("_maxlen")),
                         100.0 * F.col("_req") - F.lit(1e-6),
                     ),
                     F.lit(0.0),
                 )
             ),
        )
        .withColumn(
            "score",
            F.lit(w_lev) * F.col("lev_ratio") / 100.0
            + F.lit(w_jacc) * F.col("token_jaccard"),
        )
        # the decision comes from the reconstructed score through the
        # IDENTICAL comparison the exact path uses — never from band
        # exhaustion, so boundary rounding matches bit-for-bit
        .withColumn(
            "is_match",
            ((F.col("_d") >= 0) & (F.col("score") >= F.lit(threshold))).cast("int"),
        )
        .drop("_a", "_b", "len_a", "len_b", "toks_a", "toks_b", "nt_a", "nt_b",
              "_inter", "_maxlen", "_req", "_k", "_smax", "_d")
    )
    return out


def attach_labels(candidates: DataFrame, labeled_pairs: DataFrame) -> DataFrame:
    """Left join + coalesce(y, 0): negatives are implied by absence
    (reference script/model_magellan_ml.py:207-208). The label table is tiny
    relative to candidates — broadcast it."""
    return (
        candidates.join(
            F.broadcast(labeled_pairs.select("conv_id_a", "conv_id_b", "y")),
            ["conv_id_a", "conv_id_b"],
            "left",
        )
        .withColumn("y", F.coalesce(F.col("y"), F.lit(0)))
    )


def attach_labels_local(features: pa.Table, labels: pa.Table,
                        max_rows: int) -> pa.Table | None:
    """``attach_labels`` on driver-held Arrow tables: a left join on
    (conv_id_a, conv_id_b) that repeats a feature row once per label row
    of its key, then coalesce(y, 0). None when the join would give more
    than ``max_rows`` rows, counted from per-key label counts before the
    join builds anything."""
    keys = ["conv_id_a", "conv_id_b"]
    labels = labels.select(keys + ["y"])
    per_key = labels.group_by(keys).aggregate(
        [("y", "count", pc.CountOptions(mode="all"))])
    n = (features.select(keys)
         .join(per_key, keys, join_type="left outer", use_threads=False)
         .column("y_count"))
    if (pc.sum(pc.fill_null(n, 1)).as_py() or 0) > max_rows:
        return None
    out = features.join(labels, keys, join_type="left outer",
                        use_threads=False)
    return out.set_column(out.schema.get_field_index("y"), "y",
                          pc.fill_null(out.column("y"), 0))


def threshold_scorer(
    featurized: DataFrame,
    threshold: float = 0.55,
    w_lev: float = 0.5,
    w_jacc: float = 0.5,
) -> DataFrame:
    """Deterministic linear scorer over the JVM features.

    score = w_lev * lev_ratio/100 + w_jacc * token_jaccard, match iff
    score >= threshold. This is the no-ML path (the ML scorers live in
    operators/ml_scorer.py); it already separates the synthetic dup
    perturbations (<=10% token noise) from hard negatives.
    """
    return (
        featurized
        .withColumn(
            "score",
            w_lev * F.col("lev_ratio") / 100.0 + w_jacc * F.col("token_jaccard"),
        )
        .withColumn("is_match", (F.col("score") >= threshold).cast("int"))
    )


def degenerate_scorer(featurized: DataFrame) -> DataFrame:
    """Blocker-as-matcher bypass: when post-blocking training labels are
    single-class the reference skips training and predicts 1 for every
    candidate (model_magellan_ml.py:119-134,214-219). Same interface."""
    return featurized.withColumn("score", F.lit(1.0)).withColumn(
        "is_match", F.lit(1)
    )


def is_single_class(labeled: DataFrame) -> bool:
    """Guard for the degenerate path (model_magellan_ml.py:214-219)."""
    return labeled.select("y").distinct().count() < 2
