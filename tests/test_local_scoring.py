"""The logistic scored stage's driver path (within LOCAL_MAX_SCORE_PAIRS)
against its Spark path (the bound set to 0): the same rows, bit-identical
feature columns, coefficients, scores and decisions, on the fixture and on
edge cases; gbt stays on Spark; no RDD is left persisted."""

import pyspark.sql.functions as F
import pytest

from neural_entity_matching_spark.operators import ml_scorer
from neural_entity_matching_spark.operators.blocking import BlockingStats
from neural_entity_matching_spark.plans import pipeline
from neural_entity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline

ASTRAL = "\U0001d518\U0001d52b\U0001d526 \U0001f600 text \U00020000"
LONG = " ".join(f"word{i % 97}" for i in range(200))  # > LEV_PREFIX chars
# (conv_id, sig_text): empty, whitespace-only, astral-plane, long, a null
# text, and one id twice; "ghost" has no signature row
EDGE_SIGS = [
    ("a", "deploy the cluster after the retry timeout"),
    ("b", "deploy the cluster after a retry timeout"),
    ("c", "schema join shuffle partition broadcast cache"),
    ("d", ""),
    ("e", "   "),
    ("f", " \t\n "),
    ("g", ASTRAL),
    ("h", ASTRAL + " more"),
    ("i", LONG),
    ("j", LONG[:-7] + "changed"),
    ("k", "schema join shuffle partition broadcast"),
    ("k", "a second text under a duplicate id"),
]
EDGE_PAIRS = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "k"), ("d", "e"), ("d", "f"),
    ("e", "f"), ("a", "d"), ("g", "h"), ("a", "g"), ("i", "j"), ("a", "i"),
    ("a", "ghost"), ("ghost", "b"),
]
# duplicate label keys, one of them with both classes, and a null y
EDGE_LABELS = [
    ("a", "b", 1), ("a", "b", 1), ("g", "h", 1), ("g", "h", 0),
    ("i", "j", 1), ("c", "k", None), ("d", "e", 0), ("x", "y", 1),
]


def _exact(v):
    return v.hex() if isinstance(v, float) else v


def _rows(df):
    return sorted(tuple(_exact(v) for v in r) for r in df.collect())


def _run(spark, monkeypatch, tmp_path, name, transcripts, labels, bound,
         scorer="logistic", sigs=None, pairs=None):
    """run_pipeline's scored stage with LOCAL_MAX_SCORE_PAIRS at ``bound``
    (None: as shipped); ``sigs``/``pairs`` replace the signatures and
    candidates stages' outputs. Returns the scored snapshot, the fitted
    models and the featurize functions that ran."""
    models, ran = [], []
    real_fit = ml_scorer.fit_logistic

    def fit(*args, **kwargs):
        models.append(real_fit(*args, **kwargs))
        return models[-1]

    def spy(fn):
        def wrapped(*args, **kwargs):
            ran.append(fn.__name__)
            return fn(*args, **kwargs)
        return wrapped

    with monkeypatch.context() as m:
        m.setattr(ml_scorer, "fit_logistic", fit)
        for fn in ("featurize_pairs", "featurize_pairs_local"):
            m.setattr(pipeline, fn, spy(getattr(pipeline, fn)))
        if bound is not None:
            m.setattr(pipeline, "LOCAL_MAX_SCORE_PAIRS", bound)
        if sigs is not None:
            m.setattr(pipeline, "build_signatures", lambda _: sigs)
            m.setattr(pipeline, "lsh_block",
                      lambda *a, **k: (pairs, BlockingStats()))
        _, report = run_pipeline(
            spark, transcripts, str(tmp_path / name), PipelineConfig(
                scorer=scorer), input_fingerprint=name, run_id=name,
            labeled_pairs=labels)
    return report.outputs["scored"], models, ran


def _assert_same(driver, spark_path):
    (d_scored, d_models, d_ran), (s_scored, s_models, s_ran) = driver, spark_path
    assert d_ran == ["featurize_pairs_local"]
    assert s_ran == ["featurize_pairs"]
    assert d_scored.schema == s_scored.schema
    assert d_scored.columns[-5:] == ["lev_ratio", "token_jaccard",
                                     "len_ratio", "score", "is_match"]
    assert _rows(d_scored) == _rows(s_scored)
    assert d_models == s_models


def test_fixture_small_same_on_both_paths(spark, fixture_small, tmp_path,
                                          monkeypatch):
    transcripts, labeled, _ = fixture_small
    runs = [_run(spark, monkeypatch, tmp_path, f"fx-{bound}", transcripts,
                 labeled, bound) for bound in (None, 0)]
    _assert_same(*runs)
    assert len(runs[0][1]) == 1
    assert runs[0][0].filter(F.col("is_match") == 1).count() > 0


def _edge(spark, null_text=False):
    # a null text fails the fit, so only the single-class scorer writes
    # its features
    extra = [("n", None)] if null_text else []
    sigs = spark.createDataFrame(
        EDGE_SIGS + extra, "conv_id string, sig_text string")
    pairs = spark.createDataFrame(
        EDGE_PAIRS + [("a", "n"), ("n", "d")] * null_text,
        "conv_id_a string, conv_id_b string")
    transcripts = spark.createDataFrame([("unused",)], "conv_id string")
    return sigs, pairs, transcripts


@pytest.fixture
def edge(spark):
    return _edge(spark)


@pytest.mark.parametrize("labels", ["mixed", "single_class"])
def test_edge_cases_same_on_both_paths(spark, tmp_path, monkeypatch, labels):
    sigs, pairs, transcripts = _edge(spark, null_text=labels == "single_class")
    rows = EDGE_LABELS if labels == "mixed" else []
    labeled = spark.createDataFrame(
        rows, "conv_id_a string, conv_id_b string, y int")
    runs = [_run(spark, monkeypatch, tmp_path, f"edge-{labels}-{bound}",
                 transcripts, labeled, bound, sigs=sigs, pairs=pairs)
            for bound in (None, 0)]
    _assert_same(*runs)
    scored = runs[0][0]
    ids = {r[0] for r in scored.select("conv_id_a").collect()} | {
        r[0] for r in scored.select("conv_id_b").collect()}
    assert "ghost" not in ids
    # the duplicate id repeats its pair, as the join does
    assert scored.filter(F.col("conv_id_b") == "k").count() == 2
    assert len(runs[0][1]) == (1 if labels == "mixed" else 0)
    if labels == "single_class":
        assert scored.filter(F.col("is_match") != 1).count() == 0
        null = scored.filter(F.col("lev_ratio").isNull())
        assert sorted(tuple(r) for r in null.select(
            "token_jaccard", "len_ratio").collect()) == [(0.0, 0.0), (0.0, 1.0)]


def test_null_text_fails_the_fit_on_both_paths(spark, tmp_path, monkeypatch):
    sigs, pairs, transcripts = _edge(spark, null_text=True)
    labeled = spark.createDataFrame(
        EDGE_LABELS[:5], "conv_id_a string, conv_id_b string, y int")
    errors = []
    for bound in (None, 0):
        with pytest.raises(ValueError) as err:
            _run(spark, monkeypatch, tmp_path, f"null-{bound}", transcripts,
                 labeled, bound, sigs=sigs, pairs=pairs)
        errors.append(str(err.value))
    assert errors[0] == errors[1]
    assert "null or non-finite feature value" in errors[0]


def test_no_candidates_same_on_both_paths(spark, tmp_path, monkeypatch, edge):
    sigs, _, transcripts = edge
    pairs = spark.createDataFrame([], "conv_id_a string, conv_id_b string")
    labeled = spark.createDataFrame(
        EDGE_LABELS, "conv_id_a string, conv_id_b string, y int")
    # -1, not 0: no candidates are within a bound of 0 pairs
    runs = [_run(spark, monkeypatch, tmp_path, f"empty-{bound}", transcripts,
                 labeled, bound, sigs=sigs, pairs=pairs)
            for bound in (None, -1)]
    _assert_same(*runs)
    assert runs[0][0].count() == 0


@pytest.mark.parametrize("bound, slack, ran_expected", [
    ("LOCAL_MAX_LABEL_ROWS", -1, ["featurize_pairs"]),
    ("LOCAL_MAX_LABEL_ROWS", 0, ["featurize_pairs_local"]),
    ("LOCAL_MAX_FIT_ROWS", 1, ["featurize_pairs_local", "featurize_pairs"]),
    ("LOCAL_MAX_FIT_ROWS", 2, ["featurize_pairs_local"]),
])
def test_label_and_training_row_bounds(spark, tmp_path, monkeypatch, edge,
                                       bound, slack, ran_expected):
    """The stage leaves the driver above the label-table bound (before it
    featurizes), and above the training-row bound, counted with the rows
    duplicate label keys add (two here: ("a", "b") and ("g", "h") each
    have two label rows)."""
    sigs, pairs, transcripts = edge
    labeled = spark.createDataFrame(
        EDGE_LABELS, "conv_id_a string, conv_id_b string, y int")
    n_feature_rows = 13  # 14 pairs, two without a signature, one doubled
    limit = (len(EDGE_LABELS) if bound == "LOCAL_MAX_LABEL_ROWS"
             else n_feature_rows) + slack
    monkeypatch.setattr(pipeline, bound, limit)
    scored, _, ran = _run(spark, monkeypatch, tmp_path, f"{bound}{slack}",
                          transcripts, labeled, None, sigs=sigs, pairs=pairs)
    assert ran == ran_expected
    assert scored.count() == n_feature_rows


def test_gbt_stays_on_spark(spark, tmp_path, monkeypatch, edge):
    sigs, pairs, transcripts = edge
    labeled = spark.createDataFrame(
        EDGE_LABELS, "conv_id_a string, conv_id_b string, y int")
    _, models, ran = _run(spark, monkeypatch, tmp_path, "gbt", transcripts,
                          labeled, None, scorer="gbt", sigs=sigs, pairs=pairs)
    assert ran == ["featurize_pairs"]
    assert models == []


def test_driver_path_leaves_nothing_persisted(spark, fixture_small, tmp_path,
                                              monkeypatch):
    transcripts, labeled, _ = fixture_small
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(rdds.keySet().toArray())
    _, _, ran = _run(spark, monkeypatch, tmp_path, "leak", transcripts,
                     labeled, None)
    assert ran == ["featurize_pairs_local"]
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    assert set(rdds.keySet().toArray()) == before
