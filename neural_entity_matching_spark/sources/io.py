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
    rows            row count of the written data (the sum of the data
                    files' parquet footer row counts)
    wall_ms         compute + write + commit time of the stage
    partition_rows  [[partition_id, rows], ...] of the data as read back,
                    ascending partition_id, empty partitions absent —
                    the per-partition lineage ``run_pipeline`` records
    schema          the data's schema as Spark reads it back (every field
                    nullable), as ``StructType.jsonValue()``

Committing a snapshot runs no Spark job beyond the stage's own write.
The counts come from the written files' parquet footers, read on the
driver with pyarrow (the per-file ``record_count`` an Iceberg manifest
keeps). ``partition_rows`` maps them onto the partitions of the read:
Spark plans which file ranges each read partition scans (on the driver,
largest file first), and a range holds the row groups whose byte
midpoint falls in it, as in parquet-mr. The schema comes from the Spark
schema the writer stores in each footer, and every read passes it to
``spark.read.schema``, so no read runs the schema-inference job.

``run_or_resume`` recomputes a stage only when its snapshot fingerprint
doesn't match — a rerun after a crash skips every completed stage and
produces byte-identical output (the resume test kills the pipeline between
stages and asserts cluster equality). A resumed stage counts nothing
with Spark: its ``rows`` and ``partition_rows`` come from the snapshot
file, and its data files' footer row counts must sum to ``rows`` (a
lost or extra file, or one replaced by a file of another row count,
fails that check, and the stage is recomputed like a fingerprint
miss). A snapshot written before ``partition_rows`` or ``schema``
existed gains the missing key on resume, from the footers, with no job.

A stage that runs on the driver reads a committed snapshot with pyarrow
(``StageResult.to_arrow``), sized first from its committed ``rows`` and
its footers' column bytes (``StageResult.column_bytes``), with no job;
``arrow_frame`` hands a driver-held Arrow table back to Spark.

The reference has nothing comparable: it pickles only final result objects
(reference script/model_magellan_ml.py:428-430).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)


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

    ``df``: the snapshot data (a parquet read with the recorded schema,
    never the compute plan).
    ``snapshot_id``: the fingerprint the stage ran or resumed under.
    ``resumed``: True when the snapshot existed and nothing was computed.
    ``rows``: row count of ``df``.
    ``wall_ms``: compute + write + commit time of the run that wrote the
    snapshot (a resumed stage reports that run's time, not its own).
    ``partition_rows``: ``(partition_id, rows)`` per non-empty partition
    of ``df`` as Spark planned the read when the snapshot was committed,
    ascending; the rows sum to ``rows``.
    ``data``: the snapshot's data directory.
    ``footers``: the parquet footer of each data file under ``data``, by
    file name, as the commit or the resume check read them.
    """

    df: DataFrame
    snapshot_id: str
    resumed: bool
    rows: int
    wall_ms: int
    partition_rows: list[tuple[int, int]]
    data: str = ""
    footers: dict[str, pq.FileMetaData] = field(default_factory=dict,
                                                repr=False)

    def column_bytes(self, name: str) -> int:
        """Uncompressed bytes of column ``name`` in the data files, summed
        over the footers' column chunks, with no read. For a string column
        this is at least the UTF-8 bytes of its distinct values: a
        dictionary-encoded chunk stores each distinct value once, a plain
        one every value, each with a 4-byte length."""
        return sum(
            md.row_group(i).column(j).total_uncompressed_size
            for md in self.footers.values()
            for i in range(md.num_row_groups)
            for j in range(md.num_columns)
            if md.row_group(i).column(j).path_in_schema == name)

    def to_arrow(self, columns: list[str] | None = None,
                 dictionary: tuple[str, ...] = ()) -> pa.Table:
        """The snapshot's ``columns`` (default: all) read on the driver with
        pyarrow, from the data files the footers name, with no Spark job.
        A column in ``dictionary`` reads as one dictionary array, which
        holds each distinct value once, so its values take at most
        ``column_bytes`` however often they repeat."""
        table = pa.concat_tables([
            pq.read_table(os.path.join(self.data, n), columns=columns,
                          read_dictionary=list(dictionary))
            for n in sorted(self.footers)])
        return table.unify_dictionaries().combine_chunks()


# where Spark's parquet writer stores the row schema in each footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footers(data: str) -> dict[str, pq.FileMetaData] | None:
    """Parquet footer of each data file under ``data`` by file name, read
    on the driver; None when the directory is gone. Names starting with
    ``_`` or ``.`` (``_SUCCESS``, checksums) are not data, as in Spark's
    file listing."""
    try:
        names = sorted(os.listdir(data))
    except FileNotFoundError:
        return None
    return {n: pq.read_metadata(os.path.join(data, n))
            for n in names if not n.startswith(("_", "."))}


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable, as
    Spark makes the schema of a parquet read."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _read_schema(footers: dict[str, pq.FileMetaData]) -> StructType:
    """The schema Spark infers for a read of these files: the Spark schema
    its writer stored in the first footer, made nullable."""
    stored = footers[min(footers)].metadata[_SPARK_SCHEMA_KEY]
    return _nullable(StructType.fromJson(json.loads(stored)))


def _range_rows(md: pq.FileMetaData, start: int, length: int) -> int:
    """Rows a parquet reader takes from bytes ``[start, start + length)``
    of a file: those of the row groups whose byte midpoint falls in the
    range (parquet-mr's split rule, which Spark's reader applies)."""
    n = 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        first = rg.column(0)
        offset = first.data_page_offset
        if first.has_dictionary_page:
            offset = min(offset, first.dictionary_page_offset)
        size = sum(rg.column(j).total_compressed_size
                   for j in range(rg.num_columns))
        if start <= offset + size // 2 < start + length:
            n += rg.num_rows
    return n


def _partition_rows(df: DataFrame, footers: dict[str, pq.FileMetaData]
                    ) -> list[tuple[int, int]]:
    """``(partition_id, rows)`` per non-empty partition of the snapshot
    read ``df``, with no job: Spark plans each read partition's file
    ranges on the driver (the physical plan of a bare read is its file
    scan), and the footers count their rows."""
    parts = []
    scan = df._jdf.queryExecution().sparkPlan()
    for p in scan.inputRDD().partitions():
        n = sum(_range_rows(footers[f.filePath().toPath().getName()],
                            f.start(), f.length()) for f in p.files())
        if n:
            parts.append((p.index(), n))
    return parts


def arrow_frame(spark, table: pa.Table) -> DataFrame:
    """``table`` as a DataFrame over its Arrow batches, in at most
    ``defaultParallelism`` partitions (Spark makes one per 10k-row batch).

    Never a LocalRelation: below ``spark.sql.execution.arrow.
    localRelationThreshold`` (48 MiB) Spark turns the table into driver-side
    rows that every scan serializes into its tasks. Measured on 1.44M pairs
    (48.09 MB, just under it): 3.6-5.7 s per count against 0.3-0.6 s for
    3.6M pairs above it."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        df = spark.createDataFrame(table)
    finally:
        spark.conf.set(key, threshold)
    return df.coalesce(spark.sparkContext.defaultParallelism)


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

        A computed stage's write is its last Spark job: the commit reads
        the counts and the schema from the written files' footers, and
        ``df`` reads the data back with that schema. A resumed stage runs
        no job; it is recomputed instead when its data files' footer row
        counts no longer sum to the committed ``rows``.

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
            footers = _footers(data)
            if (footers is not None and snap.get("rows")
                    == sum(md.num_rows for md in footers.values())):
                # a snapshot written before a key existed gains it once
                legacy = not {"schema", "partition_rows"} <= snap.keys()
                if "schema" not in snap:
                    snap["schema"] = _read_schema(footers).jsonValue()
                df = (self.spark.read
                      .schema(StructType.fromJson(snap["schema"]))
                      .parquet(data))
                if "partition_rows" not in snap:
                    snap["partition_rows"] = _partition_rows(df, footers)
                if legacy:
                    self._commit(meta, snap)
                return StageResult(df, snapshot_id, True, snap["rows"],
                                   snap.get("wall_ms", 0),
                                   [tuple(p) for p in snap["partition_rows"]],
                                   data, footers)
            # the data files no longer add up to the committed rows (one
            # was lost, added or replaced): recompute, as on a miss

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
        footers = _footers(data)
        schema = _read_schema(footers)
        df = self.spark.read.schema(schema).parquet(data)
        parts = _partition_rows(df, footers)
        rows = sum(md.num_rows for md in footers.values())
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._commit(meta, {"stage": stage, "snapshot_id": snapshot_id,
                            "rows": rows, "wall_ms": wall_ms,
                            "partition_rows": parts,
                            "schema": schema.jsonValue()})
        return StageResult(df, snapshot_id, False, rows, wall_ms, parts,
                           data, footers)

    def invalidate(self, stage: str, snapshot_id: str = "") -> None:
        _, meta = self._paths(stage, snapshot_id)
        if os.path.exists(meta):
            os.remove(meta)
