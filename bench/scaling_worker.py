"""One scaling measurement: run the ER candidate-scoring chain on a
local-cluster with a given number of executor JVMs (8 cores each), print
one JSON line. Invoked by bench/scaling.py in a fresh process per level.

``local-cluster[E,8,mem]`` spawns E real executor JVMs — the faithful
sandbox proxy for an N- vs 4N-executor cluster: each executor brings its
own heap, GC, and Python workers, exactly like adding machines (a single
shared JVM hits its allocation/GC ceiling near 8 cores and measures
nothing but that ceiling).

Stages are materialized once each (persist + count), mirroring the real
pipeline's per-stage snapshot writes."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORES_PER_EXECUTOR = int(os.environ.get('NEM_CORES_PER_EXECUTOR', '8'))
EXECUTOR_MEM_MB = 10240


def main() -> None:
    executors = int(sys.argv[1])
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 40000
    mode = sys.argv[3] if len(sys.argv) > 3 else "cluster"
    cores = executors * CORES_PER_EXECUTOR

    from pyspark.sql import functions as F

    from neural_entity_matching_spark.functions.normalize import build_signatures
    from neural_entity_matching_spark.operators.blocking import lsh_block
    from neural_entity_matching_spark.operators.scoring import fast_threshold_score
    from neural_entity_matching_spark.session import get_spark, wait_for_executors
    from neural_entity_matching_spark.sources.synth import to_spark

    if mode == "local":
        master = f"local[{cores}]"
        extra = {"spark.driver.memory": "24g"}
    else:
        master = f"local-cluster[{executors},{CORES_PER_EXECUTOR},{EXECUTOR_MEM_MB}]"
        extra = {
            "spark.executor.memory": f"{EXECUTOR_MEM_MB - 2048}m",
            "spark.driver.memory": "8g",
            # executor JVMs spawn their own Python workers — ship the repo
            # (the spark-submit deployment does this with --py-files)
            "spark.executorEnv.PYTHONPATH": os.path.dirname(
                os.path.dirname(os.path.abspath(__file__))
            ),
        }
    # cores*2 shuffle partitions (NEM_SHUFFLE_FACTOR to override).
    # Factor 8 was trialled for wave smoothing — isolated A/Bs showed a
    # ~10% median scoring win at 4x1 cores (2 waves had a visible (7+1)/8
    # straggler tail) but +10% at 1 core — yet the INTEGRATED chain at
    # factor 8 measured slower at BOTH levels (blocking exchanges and the
    # scoring stage), so the known-good factor 2 stands; on this host the
    # run-to-run noise (E4 raw spreads up to 50%) exceeds the wave effect
    spark = get_spark(
        app_name=f"nem-scaling-{executors}x{CORES_PER_EXECUTOR}",
        master=master,
        shuffle_partitions=cores * int(os.environ.get("NEM_SHUFFLE_FACTOR", "2")),
        extra_conf=extra,
        tmpfs_shuffle=True,
    )
    # executors register asynchronously — caching before they all arrive
    # pins every cached partition (and all downstream locality) onto the
    # first executor, silently measuring a 1-executor run
    wait_for_executors(spark, cores)
    transcripts, labeled, _ = to_spark(spark, n_base=n_base, seed=42)
    transcripts = transcripts.repartition(cores * 2).cache()
    transcripts.count()
    sigs = build_signatures(transcripts).cache()
    sigs.count()  # signatures materialized outside the timed section

    # warm the Python UDF workers before the timed section: worker fork +
    # pandas/arrow import is cluster warm-up, not throughput
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(s):
        return s.str.len().astype("int64")

    sigs.select(_warm("sig_text").alias("w")).agg(F.sum("w")).collect()

    if mode == "ml":
        _run_ml(spark, sigs, labeled, executors=executors, cores=cores,
                n_base=n_base)
        return

    stages = {}
    t0 = time.monotonic()
    # dictionary-encoded ids flow END-TO-END: candidate pairs shuffle as
    # ONE packed int64 (dense-rank ids, a*2^32+b) through the dedup
    # exchange — the blocking stage's largest exchange, measured 21.9s ->
    # 15.1s at 4x1-core executors on 30.0M pre-dedup rows — and only
    # final MATCHES (~0.6% of pairs) are decoded back to real ids at the
    # boundary (decoding every candidate is wasted shuffle width at scale)
    candidates, bstats = lsh_block(
        sigs, num_hashes=128, bands=64, char_ngram=8, seed=42, block_cap=35,
        strategy="packed",
    )
    n_pairs = bstats.extra["n_pairs"]
    stages["blocking_sec"] = round(time.monotonic() - t0, 2)

    t1 = time.monotonic()
    packed = bstats.extra["packed_pairs"]
    stages["score_partitions"] = packed.rdd.getNumPartitions()
    if os.environ.get("NEM_CLUSTER_BY_A", "1") == "1":
        # run-length locality for the scoring probes: consecutive rows
        # share conv_id_a (and nearly share conv_id_b — the packed long
        # sorts by the pair), so the broadcast-map entry (string + token
        # array, ~1.3KB) stays cache-resident across a run instead of a
        # random DRAM fetch per pair — the scoring stage is
        # bandwidth-bound, not CPU-bound, at high core counts. Sorting
        # the single packed long is cheaper than sorting two columns.
        packed = packed.sortWithinPartitions("pk")
    candidates = packed.select(
        F.floor(F.col("pk") / F.lit(1 << 32)).cast("long").alias("conv_id_a"),
        F.pmod("pk", F.lit(1 << 32)).alias("conv_id_b"),
    )
    # dense ids are ranks, not hashes: payload keys come from the mapping
    sigs_iid = (
        sigs.join(F.broadcast(bstats.extra["id_mapping"]),
                  sigs.conv_id == F.col("_id"))
        .select(F.col("iid").alias("conv_id"), "sig_text")
    )
    if os.environ.get("NEM_SORT_BROADCAST", "1") == "1":
        # build the broadcast relation in iid order: with dense long keys
        # the map stores payload rows in insertion order, and pk-sorted
        # probes ascend iid — sequential payload layout turns the random
        # per-probe DRAM fetch into prefetchable streaming. Measured
        # ASYMMETRIC (phase-matched A/B pairs, n=80k): 4x1-core scoring
        # 243.8->213.0 and 283.6->237.2 (-13/-16%), 1x1-core unchanged
        # (693.9 vs 694.8-731.5 same-phase) — the shared DRAM bus only
        # binds when 4 cores probe at once, so this is one of the few
        # levers that moves the N->4N ratio rather than both levels.
        sigs_iid = sigs_iid.coalesce(1).sortWithinPartitions("conv_id")
    scored = fast_threshold_score(
        candidates, sigs_iid, threshold=0.55, broadcast_signatures=True,
    ).persist()
    # materialize the cache FIRST: filtering is_match on the lazy plan lets
    # Catalyst push the predicate through the projection chain, substituting
    # the whole edit-distance cascade into the filter (measured 20x); the
    # InMemoryRelation boundary stops that
    n_scored = scored.count()
    mapping = F.broadcast(bstats.extra["id_mapping"])
    matches = (
        scored.filter(F.col("is_match") == 1)
        .join(mapping.select(F.col("iid").alias("conv_id_a"),
                             F.col("_id").alias("_ida")), "conv_id_a")
        .join(mapping.select(F.col("iid").alias("conv_id_b"),
                             F.col("_id").alias("_idb")), "conv_id_b")
        # canonical REAL-id orientation: iid order is a bijection, not the
        # id sort order, so byte-identical output across parallelism
        # levels requires least/greatest here
        .select(F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
                "score")
    )
    n_matches = matches.count()
    stages["scoring_sec"] = round(time.monotonic() - t1, 2)
    wall = time.monotonic() - t0
    spark.stop()
    print(json.dumps({
        "executors": executors, "cores": cores, "n_base": n_base,
        "pairs": n_scored, "matches": n_matches, "wall_sec": round(wall, 2),
        "pairs_per_sec": round(n_scored / wall, 1), **stages,
        # variant tag: the record spans rounds, so every row states which
        # plan flags it ran under — estimators refuse to mix variants.
        "variant": "|".join(
            f"{k}={os.environ.get(k, d)}"
            for k, d in (("NEM_SHUFFLE_FACTOR", "2"),
                         ("NEM_CLUSTER_BY_A", "1"),
                         ("NEM_SORT_BROADCAST", "1"))
        ),
    }))
    assert n_pairs == n_scored


# deterministic 1/ML_SAMPLE_MOD of the candidate set, hashed on the
# CANONICALIZED REAL id pair — NOT on the packed iid long: dense iids
# depend on spark.sql.shuffle.partitions (the dense_id_mapping bucket
# count), which this worker sets to cores x factor, so an iid-keyed
# sample silently selects a DIFFERENT subset at each executor count
# (caught by the record's byte-identical-work assert: 201,065 vs
# 200,487 pairs at E1 vs E4 under tag ml-logistic; those two rows stay
# in the record as the bug's documentation and the tag was bumped).
# Real ids are level-independent, so the same pairs are kept
# everywhere. 137 puts the 1x1-core featurize+fit+score wall near the
# ER chain's scale (~200k exact-feature pairs) without running for an
# hour.
ML_SAMPLE_MOD = int(os.environ.get("NEM_ML_SAMPLE_MOD", "137"))


def _run_ml(spark, sigs, labeled, *, executors: int, cores: int,
            n_base: int) -> None:
    """ML-matcher scaling measurement (round-5 verdict item #4): the
    trained-scorer path — exact featurize (the bench's single biggest
    wall: 73% of the sf0.1 ML wall) -> logistic fit (seed 0) -> model
    scoring — under the same N- vs 4N-executor discipline as the
    threshold chain. Blocking runs OUTSIDE the timed section (its N->4N
    behavior is already measured by mode='cluster'); the timed stages
    are exactly bench.py's run_ml_scorer stages at executor scale."""
    from pyspark.sql import functions as F

    from neural_entity_matching_spark.operators.blocking import lsh_block
    from neural_entity_matching_spark.operators.ml_scorer import (
        score_with_model,
        train_scorer,
    )
    from neural_entity_matching_spark.operators.scoring import (
        attach_labels,
        featurize_pairs,
    )

    _, bstats = lsh_block(
        sigs, num_hashes=128, bands=64, char_ngram=8, seed=42, block_cap=35,
        strategy="packed",
    )
    packed = bstats.extra["packed_pairs"]
    mapping = F.broadcast(bstats.extra["id_mapping"])
    cand = (
        packed.select(
            F.floor(F.col("pk") / F.lit(1 << 32)).cast("long").alias("iid_a"),
            F.pmod("pk", F.lit(1 << 32)).alias("iid_b"),
        )
        .join(mapping.select(F.col("iid").alias("iid_a"),
                             F.col("_id").alias("_ida")), "iid_a")
        .join(mapping.select(F.col("iid").alias("iid_b"),
                             F.col("_id").alias("_idb")), "iid_b")
        # canonical real-id orientation (iid order is a bijection, not the
        # id sort order): label attachment expects least/greatest pairs
        .select(F.least("_ida", "_idb").alias("conv_id_a"),
                F.greatest("_ida", "_idb").alias("conv_id_b"))
        # sample AFTER decode+canonicalization so the keep set is a pure
        # function of real ids — identical at every executor count
        .filter(F.pmod(F.xxhash64("conv_id_a", "conv_id_b"),
                       F.lit(ML_SAMPLE_MOD)) == 0)
        .repartition(cores * int(os.environ.get("NEM_SHUFFLE_FACTOR", "2")))
        .persist()
    )
    n_cand = cand.count()  # decode + sample materialized outside the clock
    labeled = labeled.persist()
    labeled.count()

    stages = {}
    t0 = time.monotonic()
    feats = featurize_pairs(cand, sigs, broadcast_signatures=True).persist()
    feats.count()
    stages["featurize_sec"] = round(time.monotonic() - t0, 2)
    t1 = time.monotonic()
    model = train_scorer(attach_labels(feats, labeled), model="logistic",
                         seed=0)
    stages["fit_sec"] = round(time.monotonic() - t1, 2)
    t2 = time.monotonic()
    scored = score_with_model(model, feats, threshold=0.5).persist()
    n_scored = scored.count()
    n_matches = int(scored.agg(F.sum("is_match")).collect()[0][0] or 0)
    stages["score_sec"] = round(time.monotonic() - t2, 2)
    wall = time.monotonic() - t0
    spark.stop()
    print(json.dumps({
        "mode": "ml", "executors": executors, "cores": cores,
        "n_base": n_base, "pairs": n_scored, "matches": n_matches,
        "wall_sec": round(wall, 2),
        "pairs_per_sec": round(n_scored / wall, 1), **stages,
        # v2: sample keyed on real-id pairs (level-independent); the two
        # ml-logistic rows keep the record of the iid-keyed sampling bug.
        # v3/v4 rows in the record ran a banded/hashed featurize that no
        # longer exists. v5 (r7): the featurize path moved from the JVM
        # O(n*m) levenshtein + per-pair tokenize to the fused Arrow Myers
        # kernel (operators/scoring.featurize_pairs) — same outputs
        # bit-for-bit, different plan, so the record restarts under a new
        # tag (v2 rows stay as the old plan's record).
        "variant": f"ml-logistic-v5-arrowlev|NEM_ML_SAMPLE_MOD={ML_SAMPLE_MOD}",
    }))
    assert n_scored == n_cand


if __name__ == "__main__":
    main()
