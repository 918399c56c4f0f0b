"""Per-layer measurement for the traced run: spans around calls into the
engine's modules, job/stage/task attribution through Spark job groups,
executor metrics from Spark's event log, and direct probes of the
``sources``, ``mapreduce`` and ``functions`` layers.

Everything here is observed from outside the engine: the program code is
called exactly as a user calls it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

import numpy as np


class Tracer:
    """Spans kept in memory: name, start, end, parent index and run id.
    A disabled tracer hands out one shared no-op context."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._noop = contextlib.nullcontext()

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else self._noop

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "run": self.run_id, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover, summed by
        layer (the span name up to its first dot)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, tasks completed and tasks failed under one
    job group, from Spark's status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "failed_tasks": failed}


def event_log_exec(log_dir: str, app_id: str, groups: set[str]) -> dict[str, float]:
    """Executor-side totals over the tasks of jobs in ``groups``, read from
    the uncompressed, unrolled event log of application ``app_id``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.basename(p).startswith(app_id)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log for {app_id} in {log_dir}, found {paths}")
    stage_in_group: set[int] = set()
    tot = {"task_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                    stage_in_group.update(ev.get("Stage IDs", ()))
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_in_group:
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                tot["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                tot["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                tot["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                tot["tasks"] += 1
    return tot


def _bytes_under(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


def _rate(work: float, seconds: list[float]) -> float:
    return work / float(np.median(seconds))


def probe_sources(spark, tracer: Tracer, data_dir: str, corpus: list[str], sink_dir: str, reps: int = 3) -> dict:
    """Timed noop scans of the fact tables through ``catalog.load_table``,
    and the word count written through ``sinks.write_partitioned_text``."""
    from multithreaded_map_reduce_library_spark.operators.wordcount import wordcount_files
    from multithreaded_map_reduce_library_spark.sources.catalog import load_table
    from multithreaded_map_reduce_library_spark.sources.sinks import write_partitioned_text

    sc = spark.sparkContext
    facts = ("lineitem", "orders", "events")
    scan_mb = sum(_bytes_under(os.path.join(data_dir, f"{t}.parquet")) for t in facts) / 1e6
    scan_s, sink_s, tasks = [], [], []
    for rep in range(reps):
        group = f"probe.scan.{rep}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        for t in facts:
            with tracer.span("sources.load_table", table=t):
                load_table(spark, data_dir, t).write.format("noop").mode("overwrite").save()
        scan_s.append(time.perf_counter() - t0)
        tasks.append(group_counts(sc, group)["tasks"])
    sc.setJobGroup("probe.sink", "probe.sink")
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span("operators.wordcount_files"):
            df = wordcount_files(spark, corpus)
        with tracer.span("sources.write_partitioned_text"):
            write_partitioned_text(df, sink_dir, value_col="cnt")
        sink_s.append(time.perf_counter() - t0)
    files = [f for _r, _d, fs in os.walk(sink_dir) for f in fs if f.startswith("part-")]
    sink_mb = _bytes_under(sink_dir) / 1e6
    sc.setJobGroup("", "")
    return {
        "sources.scan_s": float(np.median(scan_s)),
        "sources.scan_mb_per_s": _rate(scan_mb, scan_s),
        "sources.scan_tasks": float(np.median(tasks)),
        "sources.sink_s": float(np.median(sink_s)),
        "sources.sink_mb": sink_mb,
        "sources.sink_files": float(len(files)),
    }


def probe_mapreduce(spark, tracer: Tracer, corpus: list[str], pairs: int, reps: int = 3) -> dict:
    """``mapreduce.api.mr_run`` word count, collected."""
    from multithreaded_map_reduce_library_spark.mapreduce.api import (
        mr_run,
        wordcount_mapper,
        wordcount_reducer,
    )

    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span("mapreduce.mr_run"):
            mr_run(spark, corpus, wordcount_mapper, wordcount_reducer).collect()
        secs.append(time.perf_counter() - t0)
    return {"mapreduce.mr_run_s": float(np.median(secs)), "mapreduce.pairs_per_s": _rate(pairs, secs)}


def _timed(tracer: Tracer, name: str, fn, reps: int) -> list[float]:
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span(name):
            fn()
        secs.append(time.perf_counter() - t0)
    return secs


def probe_functions(tracer: Tracer, seed: int, reps: int = 5) -> dict:
    """Driver-side calls into ``functions`` on seeded inputs."""
    import pyarrow as pa

    from multithreaded_map_reduce_library_spark.functions import arrowdist, hashing, jpeg

    rng = np.random.default_rng([seed, 7])
    img = rng.integers(0, 256, (128, 128, 3), dtype=np.uint8)
    blob = jpeg.encode_jpeg_rgb(img)
    enc = _timed(tracer, "functions.encode_jpeg_rgb", lambda: jpeg.encode_jpeg_rgb(img), reps)
    dec = _timed(tracer, "functions.decode_jpeg", lambda: jpeg.decode_jpeg(blob), reps)

    n, dim, k = 20_000, 16, 8
    v = rng.integers(-64, 64, (n, dim)).astype(np.int64)
    cents = [{"cluster": c, "s": (v[c] * 3).tolist(), "n": 3} for c in range(k)]
    lloyd_batch = pa.RecordBatch.from_pydict(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "v": pa.array(list(v), pa.list_(pa.int64())),
            "_cents": pa.array([cents] + [None] * (n - 1)),
        }
    )
    lloyd = _timed(
        tracer, "functions.lloyd_argmin_batches", lambda: list(arrowdist.lloyd_argmin_batches([lloyd_batch])), reps
    )

    m, nq = 5_000, 32
    nv = rng.standard_normal((m, 64)).astype(np.float32)
    qs = [{"q_id": i, "qv": nv[i].tolist(), "q_lbl": i % 10} for i in range(nq)]
    cos_batch = pa.RecordBatch.from_pydict(
        {
            "n_id": pa.array(np.arange(m, dtype=np.int64)),
            "nv": pa.array(list(nv), pa.list_(pa.float32())),
            "n_lbl": pa.array((np.arange(m) % 10).astype(np.int32)),
            "_q": pa.array([qs] + [None] * (m - 1)),
        }
    )
    cos = _timed(
        tracer, "functions.pairwise_cosine_batches", lambda: list(arrowdist.pairwise_cosine_batches([cos_batch])), reps
    )

    keys = [f"key{i}" for i in range(50_000)]
    dj = _timed(tracer, "functions.djb2", lambda: [hashing.djb2(key, 10) for key in keys], reps)
    return {
        "functions.jpeg_encode_mb_per_s": _rate(img.nbytes / 1e6, enc),
        "functions.jpeg_decode_mb_per_s": _rate(img.nbytes / 1e6, dec),
        "functions.lloyd_argmin_rows_per_s": _rate(n, lloyd),
        "functions.pairwise_cosine_pairs_per_s": _rate(m * nq, cos),
        "functions.djb2_keys_per_s": _rate(len(keys), dj),
    }
