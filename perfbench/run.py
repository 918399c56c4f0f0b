"""Benchmark of the engine on ``local[nproc]``, one workload per process.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from the seed and
cached under ``.bench_build/perfbench/inputs``; everything a run writes
besides goes to a temporary directory under ``.bench_build`` that is
removed when the run ends. A run:

1. sets up ``SETUPS`` times: ``session.get_spark`` plus one warm-up pass
   over the workload's ops, stopping the session in between. The JVM
   keeps compiling for several passes, so these passes also let it settle
   before timing. ``setup_s`` is the median set-up.
2. times whole passes over the ops for ``--seconds`` (at least two passes):
   wall time and process-tree CPU per pass, latency per op.
3. checks every output: relational results against the registry's DuckDB
   oracle, word counts against the golden invariant.

With ``--trace 1`` the run also records spans around each call into the
engine, tags builds and actions with Spark job groups, turns on Spark's
event log and probes the sources, mapreduce and functions layers
directly, then prints the per-layer table. End-to-end metrics come from
``--trace 0`` runs only.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import gen
import layers
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

SETUPS = 2
#: relational tables at this fraction of the engine's sf0.1 sizes
STAR_SCALE = 0.1
#: occurrences of each of the 21 corpus words
CORPUS_K = 20_000
DRIVER_MEM = "1g"
#: Pinned so that run-to-run spread measures the engine, not the JVM's
#: adaptive machinery: a full-size, pre-touched heap keeps resident memory
#: from following G1's heap resizing; the C1-only JIT finishes compiling
#: within the warm-up instead of recompiling at C2 for minutes (C2 spent
#: 29 CPU s in one 55 s word-count run); no code-cache flushing, which
#: otherwise evicted compiled code mid-run and forced bursts of
#: recompilation in the timed passes.
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.boot_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "1",
    "plans.action_s": "s",
    "plans.action_jobs": "count",
    "plans.action_stages": "count",
    "plans.action_tasks": "count",
    "plans.failed_tasks": "count",
    "sources.scan_s": "s",
    "sources.scan_mb_per_s": "MB/s",
    "sources.scan_tasks": "count",
    "sources.sink_s": "s",
    "sources.sink_mb": "MB",
    "sources.sink_files": "count",
    "mapreduce.mr_run_s": "s",
    "mapreduce.pairs_per_s": "1/s",
    "functions.jpeg_decode_mb_per_s": "MB/s",
    "functions.jpeg_encode_mb_per_s": "MB/s",
    "functions.lloyd_argmin_rows_per_s": "1/s",
    "functions.pairwise_cosine_pairs_per_s": "1/s",
    "functions.djb2_keys_per_s": "1/s",
    "exec.task_s": "s",
    "exec.busy_frac": "1",
    "exec.shuffle_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "self.bench_s": "s",
    "self.session_s": "s",
    "self.plans_s": "s",
    "self.operators_s": "s",
    "self.sources_s": "s",
    "self.mapreduce_s": "s",
    "self.functions_s": "s",
    "trace.overhead_s": "s",
}


def _median(xs) -> float:
    return float(statistics.median(xs))


def _gen(kind: str, seed: int, size, out: str) -> None:
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind, str(seed), str(size), out], check=True)


def prepare_inputs(seed: int) -> tuple[str, list[str]]:
    """Star tables and word-count corpus for ``seed``, cached per seed."""
    root = os.path.join(WORK, "inputs")
    os.makedirs(root, exist_ok=True)
    tables = gen.cached(root, f"star-v{gen.VERSION}-s{seed}-x{STAR_SCALE}", lambda d: _gen("tables", seed, STAR_SCALE, d))
    corpus = gen.cached(root, f"corpus-v{gen.VERSION}-s{seed}-k{CORPUS_K}", lambda d: _gen("corpus", seed, CORPUS_K, d))
    files = sorted(os.path.join(corpus, f) for f in os.listdir(corpus))
    return tables, files


class Run:
    def __init__(self, args, tmp: str) -> None:
        self.args = args
        self.tmp = tmp
        self.tracer = layers.Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.groups: list[str] = []
        self.op_stats: dict[str, dict[str, list[float]]] = {}

    def attempt(self, op, action, pass_id: str, tag: bool, results: dict | None = None) -> float | None:
        """Build then execute one op; returns its latency, or None if it
        raised."""
        sc = self.spark.sparkContext
        span = self.tracer.span
        self.attempted += 1
        try:
            if tag:
                sc.setJobGroup(f"{op.name}|{pass_id}|build", op.name)
            t0 = time.perf_counter()
            with span("plans.build", op=op.name):
                obj = op.build(self.spark)
            t1 = time.perf_counter()
            if tag:
                sc.setJobGroup(f"{op.name}|{pass_id}|action", op.name)
            with span("plans.action", op=op.name):
                out = action(obj)
            t2 = time.perf_counter()
        except Exception as exc:  # a failing op is counted, the run goes on
            self.failures.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        finally:
            if tag:
                sc.setJobGroup("", "")
        if tag:
            self.groups.append(f"{op.name}|{pass_id}")
            st = self.op_stats.setdefault(op.name, {"build_s": [], "action_s": []})
            st["build_s"].append(t1 - t0)
            st["action_s"].append(t2 - t1)
        if results is not None:
            results[op.name] = out
        return t2 - t0

    def check_all(self, ops, results: dict) -> None:
        """Checks the outputs of ops that carry their own check."""
        for op in ops:
            if op.check is not None and op.name in results:
                try:
                    op.check(results[op.name])
                except AssertionError as exc:
                    self.failures.append(f"{op.name}: wrong result: {str(exc)[:200]}")

    def boot(self):
        from multithreaded_map_reduce_library_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": JVM_OPTS,
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.tmp, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def main(self) -> dict:
        import workloads

        args = self.args
        cpus = len(os.sched_getaffinity(0))
        info = {"workload": args.workload, "seed": args.seed, "nproc": cpus, "load1_start": os.getloadavg()[0]}
        data_dir, corpus = prepare_inputs(args.seed)
        if args.workload == "star_sql":
            ops = workloads.star_ops(data_dir)
        else:
            ops = workloads.mr_ops(corpus, CORPUS_K, self.tmp)
        span = self.tracer.span

        # 1. set-up
        setups, boots, warms, collected = [], [], [], {}
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            results: dict = {}
            t0 = time.perf_counter()
            with span("bench.setup"):
                self.boot()
                t1 = time.perf_counter()
                for op in ops:
                    self.attempt(op, op.warm_action if i == 0 else op.action, f"setup{i}", False, results)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            boots.append(t1 - t0)
            warms.append(t2 - t1)
            self.check_all(ops, results)
            if i == 0:
                collected = results

        # 2. timed passes; with tracing, every other pass is untraced so the
        # tracing overhead can be read off
        cpu = procstat.cpu_seconds
        passes: list[tuple[bool, float, float]] = []
        latencies: dict[str, list[float]] = {op.name: [] for op in ops}
        start = time.perf_counter()
        # start another pass only if one of average length still ends in time
        while len(passes) < 2 or (time.perf_counter() - start) * (len(passes) + 1) / len(passes) <= args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 0
            self.tracer.enabled = traced
            results = {}
            c0, t0 = cpu(), time.perf_counter()
            with span("bench.pass"):
                for op in ops:
                    lat = self.attempt(op, op.action, f"p{len(passes)}", traced, results)
                    if lat is not None:
                        latencies[op.name].append(lat)
            passes.append((traced, time.perf_counter() - t0, cpu() - c0))
            self.check_all(ops, results)
        self.tracer.enabled = bool(args.trace)
        peak_rss = procstat.peak_rss_mb()

        layer: dict[str, float] = {}
        if args.trace:
            layer = self.layer_counts(ops, passes)
            layer.update(self.probes(data_dir, corpus))
            app_id = self.spark.sparkContext.applicationId
        self.stop()
        if args.trace:
            layer.update(self.exec_metrics(app_id, passes, cpus))
            layer["session.boot_s"] = _median(boots)
            layer["session.warm_s"] = _median(warms)
            for name in ("bench", "session", "plans", "operators", "sources", "mapreduce", "functions"):
                layer[f"self.{name}_s"] = 0.0
            for name, secs in self.tracer.self_time_by_layer().items():
                layer[f"self.{name}_s"] = secs

        # 3. relational outputs against the oracle, outside all timing
        for op in ops:
            if op.check is None and op.name in collected:
                try:
                    workloads.oracle_check(op.name, collected[op.name], data_dir)
                except AssertionError as exc:
                    self.failures.append(f"{op.name}: oracle mismatch: {str(exc)[:200]}")

        plain = [p for p in passes if not p[0]]
        per_op = [_median(v) for v in latencies.values() if v]
        if not per_op:
            raise RuntimeError(f"no op completed: {self.failures}")
        lat = sorted(x for v in latencies.values() for x in v)
        p90_i = int(0.9 * len(lat))
        info.update(
            {
                "load1_end": os.getloadavg()[0],
                "setups_s": [round(x, 3) for x in setups],
                "pass_wall_s": [round(p[1], 3) for p in passes],
                "pass_cpu_s": [round(p[2], 2) for p in passes],
                "op_samples": len(lat),
                "query_p90_s": lat[p90_i] if len(lat) - p90_i - 1 >= 10 else None,
                "fail_ratio": len(self.failures) / self.attempted,
                "failures": self.failures,
            }
        )
        metrics = {
            "setup_s": _median(setups),
            "wall_s": _median([p[1] for p in plain]),
            "cpu_s": _median([p[2] for p in plain]),
            "query_p50_s": _median(per_op),
            "peak_rss_mb": peak_rss,
        }
        report(info, metrics)
        if args.trace:
            self.write_layer_table(info, layer)
            metrics, units = {k: layer[k] for k in LAYER_UNITS}, LAYER_UNITS
        else:
            units = E2E_UNITS
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def layer_counts(self, ops, passes) -> dict:
        """Per-op and summed build/action times and job counts of the
        traced passes, from the job groups they ran under."""
        sc = self.spark.sparkContext
        traced = [p[1] for p in passes if p[0]]
        plain = [p[1] for p in passes if not p[0]]
        self.per_op = {}
        for op in ops:
            st = self.op_stats[op.name]
            gs = [g for g in self.groups if g.split("|")[0] == op.name]
            b = [layers.group_counts(sc, f"{g}|build") for g in gs]
            a = [layers.group_counts(sc, f"{g}|action") for g in gs]
            self.per_op[op.name] = {
                "build_s": _median(st["build_s"]),
                "action_s": _median(st["action_s"]),
                "build_jobs": _median([c["jobs"] for c in b]),
                "action_jobs": _median([c["jobs"] for c in a]),
                "action_stages": _median([c["stages"] for c in a]),
                "action_tasks": _median([c["tasks"] for c in a]),
                "failed_tasks": sum(c["failed_tasks"] for c in a + b),
            }

        def total(key: str) -> float:
            return float(sum(v[key] for v in self.per_op.values()))

        build_s, action_s = total("build_s"), total("action_s")
        return {
            "plans.build_s": build_s,
            "plans.build_jobs": total("build_jobs"),
            "plans.build_share": build_s / (build_s + action_s),
            "plans.action_s": action_s,
            "plans.action_jobs": total("action_jobs"),
            "plans.action_stages": total("action_stages"),
            "plans.action_tasks": total("action_tasks"),
            "plans.failed_tasks": total("failed_tasks"),
            "trace.overhead_s": _median(traced) - _median(plain),
        }

    def probes(self, data_dir: str, corpus: list[str]) -> dict:
        sink = os.path.join(self.tmp, "probe-sink")
        out = layers.probe_sources(self.spark, self.tracer, data_dir, corpus, sink)
        out.update(layers.probe_mapreduce(self.spark, self.tracer, corpus, CORPUS_K * len(gen.CORPUS_VOCAB)))
        out.update(layers.probe_functions(self.tracer, self.args.seed))
        return out

    def exec_metrics(self, app_id: str, passes, cpus: int) -> dict:
        """Executor totals per traced pass, from the event log."""
        groups = {g + s for g in self.groups for s in ("|build", "|action")}
        ex = layers.event_log_exec(self.event_dir, app_id, groups)
        wall = [p[1] for p in passes if p[0]]
        n = len(wall)
        return {
            "exec.task_s": ex["task_s"] / n,
            "exec.busy_frac": ex["task_s"] / (sum(wall) * cpus),
            "exec.shuffle_mb": ex["shuffle_mb"] / n,
            "exec.spill_mb": ex["spill_mb"] / n,
            "exec.gc_s": ex["gc_s"] / n,
        }

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def write_layer_table(self, info: dict, layer: dict) -> None:
        out = os.path.join(WORK, "layers")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}")
        with open(stem + ".json", "w") as f:
            json.dump({"run": info, "layers": layer, "ops": self.per_op}, f, indent=1, sort_keys=True)
        self.tracer.write(stem + ".spans.jsonl")
        print(f"per-layer table ({stem}.json):")
        for k in LAYER_UNITS:
            print(f"  {k:<40} {layer[k]:>14.4f} {LAYER_UNITS[k]}")
        print(f"  {'op':<28} {'build_s':>8} {'action_s':>8} {'build_jobs':>10} {'action_jobs':>11}")
        for name, v in self.per_op.items():
            print(
                f"  q.{name:<26} {v['build_s']:>8.3f} {v['action_s']:>8.3f} {v['build_jobs']:>10.0f} {v['action_jobs']:>11.0f}"
            )


def report(info: dict, metrics: dict) -> None:
    p90 = info["query_p90_s"]
    print(
        f"{info['workload']} seed={info['seed']} nproc={info['nproc']} "
        f"load1={info['load1_start']:.2f}->{info['load1_end']:.2f}"
    )
    print(f"  set-ups s {info['setups_s']}  pass wall s {info['pass_wall_s']}  pass cpu s {info['pass_cpu_s']}")
    for k, v in metrics.items():
        print(f"  {k:<14} {v:12.4f} {E2E_UNITS[k]}")
    print(
        "  query_p90_s    "
        + (f"{p90:12.4f} s" if p90 is not None else "  not reported: fewer than 10 samples beyond p90")
        + f"  (n={info['op_samples']})"
    )
    print(f"  fail_ratio     {info['fail_ratio']:12.4f}")
    for f in info["failures"]:
        print(f"    FAILED {f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("star_sql", "mr_wordcount"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(1, ROOT)
    import multithreaded_map_reduce_library_spark  # noqa: F401  fails fast outside a checkout

    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ.update(
        {
            "TMPDIR": tmp,
            # every JVM, the launcher's too: temp files inside the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        }
    )
    try:
        result = Run(args, tmp).main()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
