"""Transitive clustering: connected components over matched pairs.

ABSENT from the reference (it stops at pairwise decisions; entity clusters
are the components implied by matched pairs — SURVEY.md §2.8); required by
the north rule. GraphFrames isn't on this classpath, so the components are
hand-rolled. Every algorithm returns the same labeling — ``cluster_id`` is
the minimum ``conv_id`` of the component, under Spark's ordering of the id
type (binary UTF-8 order for strings, which is code-point order) — and
they differ only in where the work runs:

* ``'local'`` collects the edge list to the driver once (Arrow
  ``toPandas``), labels components with vectorized numpy min-label
  propagation plus pointer jumping, and returns the labels as an
  Arrow-backed local relation broadcast-joined to the vertices. A handful
  of Spark jobs whatever the graph's shape, but the edges must fit the
  driver: ``run_pipeline`` picks it when the scored stage's row count,
  which bounds the match-edge count, is at most
  ``driver_limits.LOCAL_MAX_EDGES``.
* ``'label_propagation'`` (the distributed default, and the pipeline's
  choice above ``LOCAL_MAX_EDGES``) iterates

      label(v) <- min(label(v), min over neighbors u of label(u))

  to fixpoint over hash-partitioned joins. ER components are shallow
  (duplicate groups), so the round count ~ cluster diameter, a small
  constant; each round is one shuffle join + one aggregation, with
  lineage cut by ``localCheckpoint``. It raises when ``max_iterations``
  runs out before the fixpoint.
* ``'star'`` is the large-star/small-star alternation (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014): O(log^2 n)
  rounds independent of component diameter, with the same groupBy/join
  primitives — for pathological chain-shaped components. Never picked by
  the pipeline; callers opt in.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 50,
    checkpoint_every: int = 1,
    algorithm: str = "label_propagation",
) -> DataFrame:
    """(conv_id, cluster_id) with cluster_id = min conv_id in the component.

    ``edges``: (conv_id_a, conv_id_b) matched pairs.
    ``vertices``: optional full entity set so singletons get their own
    cluster (cluster_id = conv_id).
    ``algorithm``: 'label_propagation' (default — rounds ~ component
    diameter, the right choice for shallow ER duplicate groups), 'star'
    (large-star/small-star, O(log^2 n) rounds regardless of diameter —
    for pathological chain-shaped components) or 'local' (one collect of
    the edges, labeled on the driver — for edge lists that fit it, see
    ``LOCAL_MAX_EDGES``). 'label_propagation' and 'star' raise
    RuntimeError when ``max_iterations`` runs out; 'local' always runs
    to its fixpoint.
    """
    if algorithm == "local":
        return _with_vertices(_local_components(edges), vertices)
    if algorithm == "star":
        return _star_components(edges, vertices, max_iterations)
    if algorithm != "label_propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = (
        edges.select(F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst"))
        .unionByName(
            edges.select(
                F.col("conv_id_b").alias("src"), F.col("conv_id_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    # r7: fuse initialization with the first propagation round. With
    # identity labels, iteration 1's neighbor-min join degenerates to
    # min(dst) per src, so label(v) = min(v, min(N(v))) comes from ONE
    # hash aggregate — this also replaces the labels-distinct exchange.
    # Identical to running the old loop once (same labels, same
    # convergence from here), one join and one exchange cheaper.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("conv_id"),
            F.least(F.col("src"), F.col("_nbr")).alias("cluster_id"),
        )
    )

    for i in range(max_iterations):
        # candidate label for each vertex: min over neighbor labels
        neighbor_min = (
            sym.join(
                labels.withColumnRenamed("conv_id", "dst").withColumnRenamed(
                    "cluster_id", "nbr_label"
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_label").alias("nbr_label"))
            .withColumnRenamed("src", "conv_id")
        )
        updated = (
            labels.join(neighbor_min, "conv_id", "left")
            .select(
                "conv_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_label", "cluster_id")
                ).alias("cluster_id"),
                (
                    F.coalesce("nbr_label", "cluster_id") < F.col("cluster_id")
                ).cast("int").alias("_changed"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            updated = updated.localCheckpoint(eager=True)
        changed = updated.agg(F.sum("_changed")).collect()[0][0] or 0
        labels = updated.drop("_changed")
        if changed == 0:
            break
    else:
        # a label still moved in the last round: the labels are partially
        # propagated (a long chain keeps a non-minimum cluster_id) — fail
        # loudly, as 'star' does, rather than return them
        raise RuntimeError(
            "connected_components(algorithm='label_propagation') did not "
            f"converge within max_iterations={max_iterations} rounds (labels "
            "still changing); raise max_iterations or use algorithm='star'"
        )
    return _with_vertices(labels, vertices)


def _with_vertices(labels: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Give every vertex a label: ones without an edge are singletons."""
    if vertices is None:
        return labels
    return (
        vertices.select("conv_id")
        .distinct()
        .join(labels, "conv_id", "left")
        .select("conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id"))
    )


def _local_components(edges: DataFrame) -> DataFrame:
    """Min-id component labels computed on the driver from one collect.

    ``np.unique`` codes the ids in sorted order, so the minimum code of a
    component is its minimum id (numpy's order for str/int64 ids equals
    Spark's binary UTF-8 / signed order). Each round lowers both ends of
    every edge to the smaller end's label (``np.minimum.at``), then
    pointer jumping (label <- label[label]) runs to its fixpoint; labels
    only fall and always name a vertex of the same component, so the
    fixpoint — every edge's ends agree — is the component minimum.
    """
    id_type = edges.schema["conv_id_a"].dataType
    pdf = edges.select("conv_id_a", "conv_id_b").dropna().toPandas()
    n_edges = len(pdf)
    ids, codes = np.unique(
        np.concatenate([pdf["conv_id_a"].to_numpy(), pdf["conv_id_b"].to_numpy()]),
        return_inverse=True,
    )
    src, dst = codes[:n_edges], codes[n_edges:]
    label = np.arange(len(ids))
    while True:
        nxt = label.copy()
        low = np.minimum(label[src], label[dst])
        np.minimum.at(nxt, src, low)
        np.minimum.at(nxt, dst, low)
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, label):
            break
        label = nxt
    arrow_type = to_arrow_type(id_type)
    table = pa.table({
        "conv_id": pa.array(ids, type=arrow_type),
        "cluster_id": pa.array(ids[label], type=arrow_type),
    })
    return F.broadcast(edges.sparkSession.createDataFrame(table))


def _star_components(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iterations: int,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC 2014).

    Each round rewires edges toward per-neighborhood minima:

    * large-star: for every vertex u, connect each STRICTLY LARGER
      neighbor v to m = min(neighborhood(u) ∪ {u});
    * small-star: orient edges high->low; for every u, connect u and
      each smaller neighbor to m = min(smaller neighbors).

    Both steps preserve connectivity and never raise a vertex's
    reachable minimum; the alternation converges in O(log^2 n) rounds
    to a forest of stars rooted at each component's minimum — no
    dependence on component diameter, unlike label propagation. Each
    step is one groupBy + one broadcast-free equi-join on the vertex
    key, the same shuffle primitive the rest of the engine uses.

    Convergence test: the canonical edge multiset is stable (count +
    order-independent xxhash64 bit_xor digest — one aggregate per
    round, no driver-side edge collection).
    """
    # canonical (a < b) undirected edge set
    e = (
        edges.select(
            F.least("conv_id_a", "conv_id_b").alias("a"),
            F.greatest("conv_id_a", "conv_id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def digest(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = digest(e)
    converged = prev[0] == 0  # no edges: already a (trivial) forest
    for _ in range(max_iterations):
        # ---- large-star ----
        sym = e.select("a", "b").unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )  # (u=a, neighbor v=b)
        m = (
            sym.groupBy("a")
            .agg(F.least(F.min("b"), F.first("a")).alias("m"))
        )
        e = (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("m").alias("a"), F.col("b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star ----  (orient high u -> low v: u=b, v=a)
        d = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(mins.select(F.col("m").alias("a"),
                                     F.col("u").alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = digest(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # labels derived from a still-moving edge set are NOT component
        # labels (a vertex can carry several cluster_id rows or a
        # non-minimum root) — fail loudly rather than return them.
        # O(log^2 n) rounds suffice in theory; the default budget is
        # generous, so hitting this means pathological input or a bug.
        raise RuntimeError(
            "connected_components(algorithm='star') did not converge "
            f"within max_iterations={max_iterations} rounds (edge digest "
            "still changing); raise max_iterations"
        )

    # converged: every edge is (root=min, member); roots map to themselves
    labels = (
        e.select(F.col("b").alias("conv_id"), F.col("a").alias("cluster_id"))
        .unionByName(
            e.select(F.col("a").alias("conv_id"),
                     F.col("a").alias("cluster_id"))
        )
        .distinct()
    )
    return _with_vertices(labels, vertices)


def union_find_oracle(pairs: list[tuple[str, str]], vertices: list[str]) -> dict[str, str]:
    """Pure-Python union-find — the test oracle for transitive closure
    (SURVEY.md §5 invariant 2). Driver-side only, never in the pipeline."""
    parent: dict[str, str] = {v: v for v in vertices}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # canonical: min member id per component
    comp: dict[str, list[str]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    out: dict[str, str] = {}
    for members in comp.values():
        root = min(members)
        for m in members:
            out[m] = root
    return out
