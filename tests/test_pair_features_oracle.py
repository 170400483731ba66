"""The pair-feature contract queries against their DuckDB oracles on a
small hand-built ``documents`` table: pairs inside and beyond the 0.2 edit
band, leading/trailing/tab whitespace, empty text, text longer than the
512-char edit prefix and non-ASCII text. Compared exactly as
tools/check_contract.py compares them (its ``normalize``)."""

import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from neural_entity_matching_spark.plans import contract

_SPEC = importlib.util.spec_from_file_location(
    "nem_check_contract",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "check_contract.py"),
)
check_contract = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(check_contract)

BASE = "the quick brown fox jumps over the lazy dog"
# DuckDB's levenshtein counts UTF-8 bytes where Spark counts code points,
# so the non-ASCII pairs differ from each other only in ASCII characters
# (an edit of a multi-byte character has no DuckDB oracle)
UNI = "naïve café résumé über straße 😀 日本語"
TEXTS = [
    ("s0", BASE),
    ("s0", BASE[:-3] + "cat"),                        # inside the band
    # beyond the band of every other s0 text
    ("s0", "a completely different sentence about spark joins"),
    ("s0", "  " + BASE),                              # leading spaces
    ("s0", BASE + "  "),                              # trailing spaces
    ("s0", BASE.replace(" ", "\t", 3)),               # tabs
    ("s0", "\t" + BASE + "\t"),                       # tabs outside trim
    ("s0", ""),                                       # empty text
    ("s0", "dog"),
    ("s1", "lorem " * 100),                           # past the 512 prefix
    ("s1", "lorem " * 100 + "ipsum"),
    ("s1", "lorem " * 60 + "dolor " * 40),            # 77 of 102 edits
    ("s2", UNI),
    ("s2", UNI + " 42"),
    ("s2", UNI + "!"),
    ("s2", "x " + UNI),
]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pair_features_sf")
    table = pa.table({
        "doc_id": pa.array(range(len(TEXTS)), pa.int64()),
        "text": [t for _, t in TEXTS],
        "lang": ["en"] * len(TEXTS),
        "source": [s for s, _ in TEXTS],
        "n_chars": pa.array([len(t) for _, t in TEXTS], pa.int64()),
    })
    pq.write_table(table, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", ["pair_features", "pair_features_banded"])
def test_pair_feature_queries_match_oracle(spark, sf_dir, name):
    normalize = check_contract.normalize
    got = normalize(contract.QUERIES[name](spark, sf_dir).toPandas())
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    exp = normalize(con.sql(contract.ORACLES[name]).df())
    n_pairs = sum(n * (n - 1) // 2 for n in
                  pd.Series([s for s, _ in TEXTS]).value_counts())
    assert len(exp) == n_pairs
    if name == "pair_features":
        # DuckDB's jaro_winkler_similarity also counts UTF-8 bytes; on
        # non-ASCII pairs the expected value is the code-point scalar
        # reference instead (rows are ordered by the unique id pair)
        from oracles import jaro_winkler

        for i, (a, b) in enumerate(zip(exp["id_a"], exp["id_b"])):
            ta, tb = TEXTS[a][1], TEXTS[b][1]
            if not (ta + tb).isascii():
                exp.loc[i, "jaro_winkler"] = round(jaro_winkler(ta, tb), 9)
    pd.testing.assert_frame_equal(got, exp, check_exact=True)


def test_fixture_has_pairs_inside_and_beyond_the_band():
    """Both branches of the banded lev_ratio are exercised."""
    import itertools

    import numpy as np

    from neural_entity_matching_spark.functions.similarity import (
        _lev_distance_batch,
    )

    pairs = [(a[:512], b[:512])
             for (sa, a), (sb, b) in itertools.combinations(TEXTS, 2)
             if sa == sb]
    d = _lev_distance_batch(np.array([a for a, _ in pairs], dtype=object),
                            np.array([b for _, b in pairs], dtype=object))
    k = [int(0.2 * max(len(a), len(b), 1)) for a, b in pairs]
    inside = sum(int(di <= ki) for di, ki in zip(d, k))
    assert 0 < inside < len(pairs)
