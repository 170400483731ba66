"""Every connected-components algorithm gives the union-find labeling:
cluster_id = the minimum conv_id of the component under Spark's string
order, on adversarial small graphs (differential, hypothesis-driven), and
the distributed algorithms fail loudly when their round budget runs out."""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from neural_entity_matching_spark.operators.clustering import (
    connected_components,
    union_find_oracle,
)

ALGORITHMS = ("local", "label_propagation", "star")

# ASCII, Latin-1, CJK, the private-use block above the surrogates, the
# last BMP code point and astral-plane characters: UTF-16 order (Java's
# String.compareTo) ranks U+E000..U+FFFF above astral characters, UTF-8
# binary order (Spark's) and code-point order (Python's, numpy's) do not
ID_CHARS = "aAz0éß中\ue000\uffff\U00010000\U0001d518\U0001f600"
ids = st.text(alphabet=ID_CHARS, min_size=1, max_size=3)


def _labels(spark, pairs, vertices, algorithm, **kw):
    edges = spark.createDataFrame(pairs, "conv_id_a string, conv_id_b string")
    vdf = spark.createDataFrame([(v,) for v in vertices], "conv_id string")
    out = connected_components(edges, vertices=vdf, algorithm=algorithm, **kw)
    return {r["conv_id"]: r["cluster_id"] for r in out.collect()}


@st.composite
def graphs(draw):
    """(pairs, vertices): random edges with self-loops, a chain through a
    random vertex order, a star, duplicated and reversed edges; vertices
    no edge touches stay isolated."""
    vertices = draw(st.lists(ids, max_size=10, unique=True))
    if not vertices:
        return [], []
    vertex = st.integers(0, len(vertices) - 1)
    edges = draw(st.lists(st.tuples(vertex, vertex), max_size=6))
    chain = draw(st.permutations(range(len(vertices))))
    edges += list(zip(chain, chain[1:draw(st.integers(0, len(vertices)))]))
    hub = draw(vertex)
    edges += [(hub, leaf) for leaf in draw(st.lists(vertex, max_size=5))]
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=3))
        edges += again + [(b, a) for a, b in again]
    return [(vertices[a], vertices[b]) for a, b in edges], vertices


@settings(max_examples=5, deadline=None)
@example(graph=([], ["b", "\U0001f600", "a"]))
@example(graph=([("\uffff", "\U00010000"), ("\U00010000", "\ue000")],
                ["\uffff", "\U00010000", "\ue000", "z"]))
@given(graph=graphs())
def test_algorithms_match_union_find_oracle(spark, graph):
    pairs, vertices = graph
    oracle = union_find_oracle(pairs, vertices)
    for algorithm in ALGORITHMS:
        assert _labels(spark, pairs, vertices, algorithm) == oracle, algorithm


def test_label_propagation_raises_on_non_convergence(spark):
    """A chain longer than the round budget leaves label propagation with
    partially propagated labels: it must raise, not return them. 'local'
    has no budget and labels the same chain correctly."""
    chain = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(12)]
    vertices = [f"v{i:02d}" for i in range(13)] + ["lonely"]
    with pytest.raises(RuntimeError, match="did not converge"):
        _labels(spark, chain, vertices, "label_propagation", max_iterations=3)
    assert (_labels(spark, chain, vertices, "local")
            == union_find_oracle(chain, vertices))


def test_local_keeps_integer_ids(spark):
    """Long ids (the compact-code shape bench.py clusters) keep their
    type and signed order."""
    edges = spark.createDataFrame([(5, -3), (-3, 9), (7, 8)],
                                  "conv_id_a long, conv_id_b long")
    out = connected_components(edges, algorithm="local")
    assert dict(out.collect()) == {5: -3, -3: -3, 9: -3, 7: 7, 8: 7}
    assert out.schema["cluster_id"].dataType.typeName() == "long"
