"""Benchmark of the public ER entry points: run_pipeline and incremental_er.

    python3 perfbench/run.py --workload batch_er --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py            # every workload, one after another

Run from the root of a checkout. One run starts a local Spark session,
builds the workload's inputs from ``--seed``, runs one warm-up operation
whose output is checked in full, then runs operations back to back (a
closed loop, one driver) for ``--seconds`` and checks each one. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code is
0 only when every output check passed.

Without ``--workload`` it runs every workload in its own process and
prints one line per end-to-end metric, then each workload's
failure_rate; the exit code is non-zero if any check failed. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "neural_entity_matching_spark")
WORKLOAD_NAMES = ("batch_er", "ml_rescore", "stream_er")
DRIVER_MEMORY = "3g"
SPAN_UNITS = {"self_s": "s", "jobs": "count", "tasks": "count",
              "shuffle_bytes": "bytes", "spill_bytes": "bytes",
              "executor_s": "s"}


def end_to_end_units(wl) -> dict[str, str]:
    return {"setup_s": "s", **wl.end_to_end, "pairwise_f1": "ratio"}


def per_layer_units(wl) -> dict[str, str]:
    from tracing import ROOT_SPAN

    out = {f"{layer}.{stat}": unit
           for layer in (*wl.layers, ROOT_SPAN)
           for stat, unit in SPAN_UNITS.items()}
    out.update(wl.layer_units)
    out.update({
        "spark.jobs": "count",
        "pipeline.persisted_rdds_left": "count",
        "session.jvm_peak_rss_mb": "MB",
        "trace.wall_s": "s",
        "trace.untraced_wall_s": "s",
        "trace.overhead_s": "s",
    })
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOAD_NAMES,
                   help="one workload; default: every workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Everything the run depends on is set here, not by the caller's
    shell: cores, scratch dirs inside the checkout, and an import path to
    the package for the Python workers."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    for var in ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                "NEM_TMPFS_SHUFFLE", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    sys.path.insert(0, ROOT)
    return cores


def start_session(work: str, cores: int):
    from neural_entity_matching_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, tmpfs_shuffle=False,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # no hsperfdata files in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })


def stop_session() -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(*parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    def __init__(self, args, work: str, cores: int):
        self.args = args
        self.work = work
        self.cores = cores
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.n_ops = 0

    def setup(self) -> float:
        """Session, inputs and one warm-up operation, checked in full;
        returns the seconds from process start until warm."""
        from workloads import WORKLOADS

        self.spark = start_session(self.work, self.cores)
        log(f"session {time.perf_counter() - PROCESS_START:.2f}s")
        self.wl = WORKLOADS[self.args.workload](self.spark, self.args.seed)
        self.wl.setup(fresh_dir(self.work, "data"))
        log(f"inputs {time.perf_counter() - PROCESS_START:.2f}s")
        res = self.op()
        if res is None:
            raise RuntimeError("warm-up operation failed")
        setup_s = time.perf_counter() - PROCESS_START
        self.ref = res[1]
        self.errors += self.wl.check(self.ref)
        log(f"setup {setup_s:.2f}s, pairwise_f1 {self.wl.f1:.4f}")
        return setup_s

    def op(self, tracer=None):
        """One operation: returns (wall, counts), or None when it failed."""
        from tracing import ROOT_SPAN

        op_dir = fresh_dir(self.work, "op")
        self.n_ops += 1
        try:
            t0 = time.perf_counter()
            if tracer is None:
                out = self.wl.run_op(op_dir)
            else:
                tracer.op = self.n_ops
                with tracer.span(ROOT_SPAN):
                    out = self.wl.run_op(op_dir)
            wall = time.perf_counter() - t0
            log(f"op {self.n_ops} {wall:.2f}s")
            return wall, self.wl.counts(out)
        except Exception:
            traceback.print_exc()
            self.errors.append(f"op {self.n_ops} raised")
            return None

    def measure(self, seconds: float, tracer=None, on_op=None):
        """Closed loop: operations back to back until ``seconds`` have
        passed (at least one). Each output must repeat the warm-up's."""
        samples = []
        deadline = time.perf_counter() + seconds
        while True:
            res = self.op(tracer)
            units = self.ref.get("epochs", 1)  # stream epochs are operations
            self.attempted += units
            ok = res is not None
            if ok:
                wall, counts = res
                diff = {k: (counts.get(k), v) for k, v in self.ref.items()
                        if counts.get(k) != v}
                if diff:
                    self.errors.append(f"op {self.n_ops} output changed: {diff}")
                    ok = False
            if not ok:
                self.failed += units
            else:
                samples.append((wall, self.wl.op_metrics(wall, counts)))
                if on_op is not None:
                    on_op(self.n_ops, counts)
            if time.perf_counter() >= deadline:
                return samples


def end_to_end(run: Run, setup_s: float, samples) -> dict:
    """Medians over the measured operations."""
    values = {k: statistics.median(m[k] for _, m in samples)
              for k in run.wl.end_to_end}
    return {"setup_s": setup_s, **values, "pairwise_f1": run.wl.f1}


def per_layer(run: Run, seconds: float) -> dict:
    """Half the window untraced, half traced: the difference of the two
    median walls is the tracing overhead."""
    from tracing import Tracer

    untraced = run.measure(seconds / 2)
    tracer = Tracer(run.spark)
    extra: dict[int, dict] = {}

    def on_op(op_id, counts):
        # untimed layer counts of the operation just traced (their jobs
        # run outside every span)
        extra[op_id] = run.wl.layer_counts(counts)
        extra[op_id]["pipeline.persisted_rdds_left"] = (
            run.spark.sparkContext._jsc.getPersistentRDDs().size())

    tracer.install()
    try:
        run.measure(seconds / 2, tracer=tracer, on_op=on_op)
    finally:
        tracer.restore()
    stats = tracer.span_stats()
    per_op = []
    for op_id in extra:
        row = {f"{layer}.{stat}": value
               for layer, layer_stats in stats[op_id].items()
               for stat, value in layer_stats.items()}
        row.update(tracer.counts[op_id])
        row.update(extra[op_id])
        row["spark.jobs"] = sum(s.get("jobs", 0)
                                for s in stats[op_id].values())
        root = next(s for s in tracer.spans
                    if s["op"] == op_id and s["parent"] is None)
        wall = root["end"] - root["start"]
        accounted = sum(v for k, v in row.items() if k.endswith(".self_s"))
        if abs(accounted - wall) > 1e-3:
            run.errors.append(
                f"op {op_id}: self times sum to {accounted:.4f}s "
                f"of a {wall:.4f}s traced wall")
        row["trace.wall_s"] = wall
        if "stream.epochs" in row:
            compacted = row.pop("incremental_er.compacted_rows_before", 0)
            row["incremental_er.compaction_ratio"] = (
                row.pop("incremental_er.compacted_rows_after", 0) / compacted
                if compacted else 0.0)
            row["blocking_stream.candidates_per_epoch"] = (
                row.pop("blocking_stream.candidates", 0)
                / row["stream.epochs"])
        per_op.append(row)
    units = per_layer_units(run.wl)
    metrics = {k: statistics.median([r.get(k, 0.0) for r in per_op])
               if per_op else 0.0 for k in units}
    metrics["trace.untraced_wall_s"] = statistics.median(
        w for w, _ in untraced) if untraced else 0.0
    metrics["trace.overhead_s"] = (metrics["trace.wall_s"]
                                   - metrics["trace.untraced_wall_s"])
    metrics["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
    return metrics


def run_one(args) -> int:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    cores = pin_environment(work)
    run = Run(args, work, cores)
    values = {}
    try:
        setup_s = run.setup()
        if args.trace:
            values = per_layer(run, args.seconds)
            units = per_layer_units(run.wl)
        else:
            samples = run.measure(args.seconds)
            if samples:
                values = end_to_end(run, setup_s, samples)
            units = end_to_end_units(run.wl)
            for k in run.wl.unbounded:
                log(f"{k} {values.get(k, 0.0):.6g} {units.pop(k)} "
                    "(left out of the result line: it follows the seed)")
    finally:
        stop_session()
        shutil.rmtree(work, ignore_errors=True)
    for err in run.errors:
        log(f"check failed: {err}")
    correct = not run.errors and run.failed == 0 and bool(values)
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, one after another. A child's
    log, with its unbounded metrics, passes through on stderr."""
    status = 0
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: FAILED (exit {proc.returncode})")
            status = 1
            continue
        result = json.loads(lines[-1])
        for metric, m in result["metrics"].items():
            print(f"{name} {metric} {m['value']:.6g} {m['unit']}")
        print(f"{name} failure_rate "
              f"{result['failed'] / result['attempted']:.6g} ratio")
        if not result["correct"]:
            status = 1
    return status


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        log(f"no package at {PACKAGE}; run from the root of a checkout")
        return 2
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
