"""Deterministic synthetic transcript generator (FIXTURES.md).

Mirrors the matched-entity structure of the reference datasets (Amazon vs
Google descriptions of the same product, reference script/utilities.py:407-441):
each base conversation gets 0-3 duplicate variants produced by seeded
perturbations that keep signature similarity high; hard negatives share
boilerplate prefixes (analogue of the reference's "difficult" examples,
reference script/utilities.py:163-268); one deliberately hot block of
near-identical greeting-only transcripts exercises the block caps.

Everything is seeded numpy — no wall clock, no external data. The same
(seed, n_base) always produces byte-identical tables, so frozen labels are
reproducible in every test/bench run.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd

_BASE_WORDS = [
    "deploy", "cluster", "error", "retry", "timeout", "query", "table",
    "schema", "join", "shuffle", "partition", "broadcast", "cache", "spill",
    "executor", "driver", "stage", "task", "metric", "latency", "throughput",
    "upgrade", "rollback", "config", "token", "request", "response", "batch",
    "stream", "window", "checkpoint", "snapshot", "bucket", "index", "scan",
    "filter", "predicate", "column", "vector", "embedding", "hash", "merge",
]

# A realistic corpus has a large vocabulary; a tiny one makes *random*
# conversations lexically similar and no blocking curve can separate dupes
# from negatives. Build ~1500 deterministic words from fixed syllables —
# pure combinatorics, no RNG, byte-stable across runs.
_SYLLABLES = [
    "ba", "de", "ku", "mo", "ri", "ta", "zen", "lor", "vex", "pli",
    "gra", "shu", "wen", "dor", "fi", "nal", "qui", "som", "tra", "yel",
]
VOCAB = _BASE_WORDS + [
    a + b + c
    for a in _SYLLABLES
    for b in _SYLLABLES[:9]
    for c in _SYLLABLES[:8]
][: 1500]

SYNONYMS = {
    "error": "failure", "retry": "reattempt", "query": "statement",
    "cluster": "fleet", "latency": "delay", "config": "setting",
    "snapshot": "checkpointed-state", "scan": "read", "merge": "combine",
}
# extend the synonym table over generated words deterministically
SYNONYMS.update({w: w + "ish" for w in VOCAB[100:200]})

TOOLS = ["search", "sql", "bash", "python", "browser"]
ROLES = ["user", "assistant", "tool"]
BOILERPLATE = "hello i need help with a production issue in the data platform"
GREETING = "hi there thanks for the quick help bye"
BASE_TS = datetime(2024, 1, 1)


def _perturb(rng: np.random.RandomState, tokens: list[str]) -> list[str]:
    """Seeded duplicate-variant perturbation: token drop/swap (<=10%),
    synonym substitution, occasional truncation — high-similarity dupes."""
    toks = list(tokens)
    n = len(toks)
    # drop up to 10% of tokens
    n_drop = rng.randint(0, max(1, n // 10) + 1)
    for _ in range(n_drop):
        if len(toks) > 2:
            toks.pop(rng.randint(0, len(toks)))
    # swap one adjacent pair
    if len(toks) > 3 and rng.rand() < 0.5:
        i = rng.randint(0, len(toks) - 1)
        toks[i], toks[i + 1] = toks[i + 1], toks[i]
    # synonym substitution on at most one token
    if rng.rand() < 0.5:
        for i, t in enumerate(toks):
            if t in SYNONYMS and rng.rand() < 0.3:
                toks[i] = SYNONYMS[t]
                break
    return toks


def generate(
    n_base: int = 200,
    seed: int = 42,
    dup_prob: float = 0.6,
    max_dups: int = 3,
    hard_negative_frac: float = 0.15,
    n_hot: int = 40,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Return (transcripts, labeled_pairs, expected_clusters) pandas frames.

    labeled_pairs is positives-only with canonical conv_id_a < conv_id_b
    (reference convention, script/prepare_data.py:6).
    expected_clusters maps every conv_id (incl. singletons) to the transitive
    closure of labeled_pairs == the base conversation id.
    """
    rng = np.random.RandomState(seed)
    rows: list[tuple] = []
    pairs: list[tuple[str, str]] = []
    clusters: list[tuple[str, str]] = []

    def emit(conv_id: str, turns: list[tuple[str, str]], conv_offset_min: int):
        for ti, (role, text) in enumerate(turns):
            tool = TOOLS[rng.randint(0, len(TOOLS))] if role == "tool" else None
            ts = BASE_TS + timedelta(minutes=conv_offset_min + ti)
            rows.append((conv_id, ti, role, text, tool, ts))

    for b in range(n_base):
        base_id = f"conv-{b:06d}"
        n_turns = int(rng.randint(3, 13))
        hard_neg = rng.rand() < hard_negative_frac
        turns: list[tuple[str, str]] = []
        for ti in range(n_turns):
            role = ROLES[ti % 3]
            if ti == 0 and hard_neg:
                text = BOILERPLATE
            else:
                n_tok = int(rng.randint(4, 14))
                text = " ".join(
                    VOCAB[i] for i in rng.randint(0, len(VOCAB), size=n_tok)
                )
            turns.append((role, text))
        emit(base_id, turns, b * 60)
        group = [base_id]
        if rng.rand() < dup_prob:
            n_dup = int(rng.randint(1, max_dups + 1))
            for d in range(n_dup):
                dup_id = f"{base_id}-d{d + 1}"
                dup_turns = []
                # occasional truncation of the final turn
                keep = len(turns) - (1 if (rng.rand() < 0.2 and len(turns) > 3) else 0)
                for role, text in turns[:keep]:
                    toks = _perturb(rng, text.split())
                    dup_turns.append((role, " ".join(toks)))
                emit(dup_id, dup_turns, b * 60 + 30 + d)
                group.append(dup_id)
        group.sort()
        for i in range(len(group)):
            clusters.append((group[i], group[0]))
            for j in range(i + 1, len(group)):
                pairs.append((group[i], group[j]))

    # hot block: many distinct single-turn near-identical greetings
    for h in range(n_hot):
        hot_id = f"hot-{h:05d}"
        emit(hot_id, [("user", GREETING)], 100000 + h)
        clusters.append((hot_id, hot_id))

    # edge cases: empty text, text shorter than shingle width, null-ish turns
    emit("edge-empty", [("user", ""), ("assistant", "ok")], 200000)
    clusters.append(("edge-empty", "edge-empty"))
    emit("edge-short", [("user", "hi")], 200010)
    clusters.append(("edge-short", "edge-short"))

    transcripts = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    labeled = pd.DataFrame(pairs, columns=["conv_id_a", "conv_id_b"])
    labeled["y"] = np.int32(1)
    expected = pd.DataFrame(clusters, columns=["conv_id", "cluster_id"])
    return transcripts, labeled, expected


def to_spark(spark, n_base: int = 200, seed: int = 42, **kw):
    """Materialize the fixture as Spark DataFrames with explicit schemas."""
    from neural_entity_matching_spark import schema

    t, l, c = generate(n_base=n_base, seed=seed, **kw)
    return (
        spark.createDataFrame(t, schema=schema.TRANSCRIPTS),
        spark.createDataFrame(l, schema=schema.LABELED_PAIRS),
        spark.createDataFrame(c, schema=schema.EXPECTED_CLUSTERS),
    )
