"""Spans around the calls into each layer, and Spark's counts per span.

The tracer replaces the layer functions that ``plans.pipeline``,
``operators.ml_scorer`` and ``streaming.incremental_er`` look up at call
time with wrappers that open a span (name, start, end, parent, operation
id) and set a Spark job group naming the span. After the run, Spark's
status store supplies each job's group, so every job, stage, task,
shuffle byte, spilled byte and executor second lands on the span that
launched it. No package code changes; ``restore`` puts the real
functions back.

Spark is lazy: a plan runs when something materializes it, so a span
around a call that only builds a plan measures almost nothing. Three
rules put the work where it belongs:

* In ``run_pipeline`` a stage's plan runs in its snapshot write, so the
  span around ``CheckpointManager.run_or_resume`` takes the stage's layer
  name when it computes (``scoring`` includes the scored snapshot write)
  and the name ``io`` when it resumes from a snapshot.
* ``featurize_pairs`` is persisted by the trained-matcher path and first
  computed inside ``train_scorer``; the traced wrapper persists and counts
  it inside its own span, so its cost is ``featurize`` and not
  ``ml_scorer``. That count is one extra job per operation, part of the
  reported tracing overhead.
* Inside the ``incremental_er`` batch handler the layer calls are
  phases: each one opens a span that lasts until the next layer call or
  the end of the handler, so the handler's own ``count`` and ``write``
  calls land on the layer whose plan they run. The store upserts open an
  ``incremental_er`` phase (at their existence check on ``sigs`` or
  ``keys``), and so does ``compact_matches``.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from pyspark.sql.streaming.readwriter import DataStreamWriter

from neural_entity_matching_spark.operators import ml_scorer
from neural_entity_matching_spark.plans import pipeline
from neural_entity_matching_spark.sources.io import CheckpointManager
from neural_entity_matching_spark.streaming import incremental_er

ROOT_SPAN = "op"  # one per operation; its self time is the rest
STAGE_LAYERS = {"signatures": "normalize", "candidates": "blocking",
                "scored": "scoring", "clusters": "clustering"}
STORE_DIRS = ("/sigs", "/keys")
GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op: int | None = None
        self.counts: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def _set_group(self) -> None:
        if self.stack:
            span = self.stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span['id']}", span["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _open(self, name: str, phase: bool, attrs: dict) -> dict:
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "phase": phase, "attrs": attrs, "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_group()
        rec["start"] = time.perf_counter()
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self._open(name, False, attrs)
        try:
            yield rec
        finally:
            end = time.perf_counter()
            top = None
            while top is not rec:  # an open phase ends with its span
                top = self.stack.pop()
                top["end"] = end
            self._set_group()

    def phase(self, name: str, **attrs) -> None:
        """End the open phase, if any, and start the next one."""
        if self.stack and self.stack[-1]["phase"]:
            self.stack.pop()["end"] = time.perf_counter()
        self._open(name, True, attrs)

    def count(self, key: str, value: float) -> None:
        self.counts[self.op][key] += value

    # -- wrapping the layer functions --------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, layer: str, on_result=None,
              phase: bool = False) -> None:
        real = getattr(owner, attr)

        def traced(*args, **kwargs):
            if phase:
                self.phase(layer, fn=attr)
                out = real(*args, **kwargs)
            else:
                with self.span(layer, fn=attr):
                    out = real(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        self._patch(owner, attr, traced)

    def install(self) -> None:
        for name, layer in (("build_signatures", "normalize"),
                            ("lsh_block", "blocking"),
                            ("fast_threshold_score", "scoring"),
                            ("connected_components", "clustering")):
            self._wrap(pipeline, name, layer)
        real_featurize = pipeline.featurize_pairs

        def featurize_pairs(*args, **kwargs):
            with self.span("featurize", fn="featurize_pairs"):
                feats = real_featurize(*args, **kwargs).persist()
                feats.count()
            return feats

        self._patch(pipeline, "featurize_pairs", featurize_pairs)
        for name in ("train_scorer", "score_with_model"):
            self._wrap(ml_scorer, name, "ml_scorer")

        for name, layer in (("build_signatures", "normalize"),
                            ("lsh_band_keys", "blocking_stream"),
                            ("fast_threshold_score", "scoring")):
            self._wrap(incremental_er, name, layer, phase=True)
        self._wrap(incremental_er, "two_table_pairs_from_block_keys",
                   "blocking_stream", phase=True,
                   on_result=lambda out: self.count(
                       "blocking_stream.candidates",
                       out[1].extra.get("n_pairs", 0)))
        self._wrap(incremental_er, "compact_matches", "incremental_er",
                   phase=True, on_result=self._on_compaction)
        real_dir_exists = incremental_er._dir_exists

        def dir_exists(spark, path):
            if path.endswith(STORE_DIRS):  # an upsert starts
                self.phase("incremental_er", fn="upsert")
            return real_dir_exists(spark, path)

        self._patch(incremental_er, "_dir_exists", dir_exists)

        real_run_or_resume = CheckpointManager.run_or_resume
        tracer = self

        def run_or_resume(ckpt, stage, snapshot_id, compute,
                          repartition_by=None):
            with tracer.span(STAGE_LAYERS[stage], stage=stage) as rec:
                res = real_run_or_resume(ckpt, stage, snapshot_id, compute,
                                         repartition_by)
                children = {s["name"] for s in tracer.spans[rec["id"] + 1:]
                            if s["parent"] == rec["id"]}
                if res.resumed:
                    rec["name"] = "io"
                elif "ml_scorer" in children:
                    # a trained matcher computed the scored stage
                    rec["name"] = "ml_scorer"
            tracer.count("io.snapshot_reads" if res.resumed
                         else "io.snapshot_writes", 1)
            return res

        self._patch(CheckpointManager, "run_or_resume", run_or_resume)

        self._wrap(pipeline, "run_pipeline", "pipeline")

        real_foreach_batch = DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def handler(batch, epoch_id):
                with tracer.span("incremental_er", epoch=epoch_id):
                    func(batch, epoch_id)
            return real_foreach_batch(writer, handler)

        self._patch(DataStreamWriter, "foreachBatch", foreach_batch)

    def _on_compaction(self, info: dict) -> None:
        self.count("incremental_er.compacted_rows_before", info["rows_before"])
        self.count("incremental_er.compacted_rows_after", info["rows_after"])

    def restore(self) -> None:
        while self._patches:
            owner, attr, real = self._patches.pop()
            setattr(owner, attr, real)

    # -- attribution -------------------------------------------------------

    def span_stats(self) -> dict[int, dict[str, dict[str, float]]]:
        """Per operation, per layer: self time and Spark's counts.

        Self time is the span's duration minus its children's. Spark's
        counts come from the status store by job group; a job lands on
        the innermost span open when it was submitted."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        as_list = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        per_stage = defaultdict(list)
        for s in as_list(store.stageList(None, False, False, no_quantiles,
                                         None)):
            per_stage[s.stageId()].append((
                s.numTasks(),
                s.shuffleReadBytes() + s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
                s.executorRunTime() / 1000.0,
                s.outputBytes(),
            ))

        by_id = {s["id"]: s for s in self.spans}
        out: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            out[s["op"]][s["name"]]["self_s"] += (
                s["end"] - s["start"] - child_time[s["id"]])

        # a job lists the shuffle stages it reuses from earlier jobs; each
        # stage counts once, for the first job that ran it
        seen_stages: set[int] = set()
        for j in sorted(as_list(store.jobsList(None)),
                        key=lambda j: j.jobId()):
            group = j.jobGroup()
            span = None
            if group.isDefined() and group.get().startswith(GROUP_PREFIX):
                span = by_id.get(int(group.get()[len(GROUP_PREFIX):]))
            ids = j.stageIds()
            stage_ids = {ids.apply(i) for i in range(ids.length())}
            new_stages = stage_ids - seen_stages
            seen_stages |= stage_ids
            if span is None:
                continue
            layer = out[span["op"]][span["name"]]
            layer["jobs"] += 1
            for sid in new_stages:
                for tasks, shuffle, spill, executor_s, written in \
                        per_stage.get(sid, ()):
                    layer["tasks"] += tasks
                    layer["shuffle_bytes"] += shuffle
                    layer["spill_bytes"] += spill
                    layer["executor_s"] += executor_s
                    self.counts[span["op"]]["io.bytes_written"] += written
        return out
