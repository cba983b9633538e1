"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One process, one
Spark session on ``local[nproc]`` and one client in a closed loop: the
next query or drain starts only after the previous one has finished.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md
in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import metrics as M
import procfs
import sparkstats
import workloads as W
from check import OracleChecker, check_sink
from spans import Tracer, self_time_by_name

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

MIN_PASSES = 3
# Untimed noop passes after the first warm pass. A run of `iterative`
# keeps getting faster for about a minute while the JVM compiles the
# engine's hot paths (a pass falls from ~6 s to ~3 s on 4 cores); two
# more warm passes move the timed ones onto the flatter part of that
# curve. Streaming passes are flat from the first.
EXTRA_WARM_PASSES = {"iterative": 2}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "batch_p50_s": "s",
    "rows_per_s": "1/s",
}

STREAM_DURATIONS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}
STREAM_STATE = ("state_rows", "state_bytes", "state_commit_ms")
STREAM_BYTES = ("sink_bytes", "checkpoint_bytes", "written_per_input_byte")
BUILD_COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "shuffle_write_bytes")
EXEC_COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
# counters that should repeat exactly from pass to pass; times do not
COUNT_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows")

PER_LAYER = (
    ["session.import_s", "session.create_s", "session.fence_s", "session.warm_s",
     "session.peak_rss_mb", "check.oracle_s"]
    + ["plans.build_s"] + [f"plans.build_{k}" for k in BUILD_COUNTERS]
    + ["catalyst.plan_s"] + [f"catalyst.{p}_ms" for p in sparkstats.CATALYST_PHASES]
    + ["exec.wall_s"] + [f"exec.{k}" for k in EXEC_COUNTERS]
    + ["sources.input_bytes", "sources.input_rows", "functions.pyworker_cpu_s"]
    + [f"streaming.{k}" for k in (*STREAM_DURATIONS, *STREAM_STATE, *STREAM_BYTES)]
    + ["plans.build_share", "catalyst.plan_share", "exec.share"]
    + ["pass.self_s", "query.self_s", "plans.build.self_s", "catalyst.plan.self_s",
       "exec.write.self_s", "streaming.drain.self_s"]
    + ["trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
       "trace.exact_counters", "trace.varying_counters"]
)
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "B", "share": "ratio",
         "_byte": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Bench:
    """State of one benchmark run: the session, the timings of every
    operation, the trace and the failure count."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = Tracer(workload=args.workload, seed=args.seed)
        self.parts: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        # untraced passes: closed-loop latency and Spark job or
        # micro-batch times, by operation (query or pipeline)
        self.query_s: dict[str, list[float]] = defaultdict(list)
        self.batch_s: dict[str, list[float]] = defaultdict(list)
        self.pass_s: list[float] = []
        self.rows_per_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.rows = 0  # input rows handled by untraced passes
        self.layer_passes: list[dict[str, float]] = []  # per traced pass
        self.counter_runs: dict[str, list] = {}  # "op:counter" -> values
        self.check_problems: dict[str, list[str]] = {}
        self.spark = None
        self.jvm_pid = 0

    # ---- session -------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        from joblink_etl_spark.plans import registry
        from joblink_etl_spark.session import get_spark

        self.queries = registry.queries()
        self.oracles = registry.oracles()
        self.parts["session.import_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.parts["session.create_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

        # Python-worker fence: the first pandas UDF of a session pays
        # the worker pool's spin-up; pay it here, visibly
        t0 = time.perf_counter()
        nproc = self.spark.sparkContext.defaultParallelism

        def ident(it):
            yield from it

        self.spark.range(0, 64, 1, 2 * nproc).mapInPandas(ident, "id long").write.mode(
            "overwrite"
        ).format("noop").save()
        self.parts["session.fence_s"] = time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the JVM exits when its stdin closes; wait until it has
        proc.stdin.close()
        proc.wait(timeout=60)
        self.spark = None

    def pyworker_cpu(self) -> float:
        return procfs.tree_cpu_seconds(self.jvm_pid)

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        log(f"FAILED {what}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
        log(traceback.format_exc(limit=3))

    def record_counters(self, op: str, counters: dict) -> None:
        for k in COUNT_KEYS:
            if k in counters:
                self.counter_runs.setdefault(f"{op}:{k}", []).append(counters[k])

    # ---- batch workloads -----------------------------------------------

    def batch_setup(self) -> None:
        """First warm pass: build and collect every query once. The
        collected rows are checked against the oracles after the timed
        passes."""
        self.names = list(W.BATCH[self.args.workload])
        self.checker = OracleChecker(ROOT, SF_DIR, TABLES, os.path.join(self.work, "duckdb"))
        self.results: dict[str, tuple] = {}
        self.input_rows: dict[str, int] = {}
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        for name in self.names:
            self.attempted += 1
            group = f"warm:{name}"
            sc.setJobGroup(group, group)
            try:
                self.results[name] = self.checker.collect(self.queries[name](self.spark, SF_DIR))
            except Exception as e:  # noqa: BLE001 - a failed query must not end the run
                self.fail(f"warm {name}", e)
            self.input_rows[name] = sparkstats.group_counters(self.spark, group)["input_rows"]
            self.spark.catalog.clearCache()

    def batch_pass(self, pass_id: int, traced: bool) -> float:
        order = list(self.names)
        random.Random(self.args.seed * 1000 + pass_id).shuffle(order)
        sums: dict[str, float] = defaultdict(float)
        t_pass = time.perf_counter()
        with self.tracer.span("pass", pass_id=pass_id) if traced else nullcontext():
            for name in order:
                if traced:
                    self.traced_query(pass_id, name, sums)
                else:
                    self.untraced_query(f"u{pass_id}:{name}", name)
                self.spark.catalog.clearCache()
        wall = time.perf_counter() - t_pass
        if traced:
            self.layer_passes.append(sums)
        else:
            # outside the timed pass: how long each Spark job took
            for name in order:
                self.batch_s[name].extend(sparkstats.job_durations(self.spark, f"u{pass_id}:{name}"))
        return wall

    def untraced_query(self, group: str, name: str) -> None:
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            self.queries[name](self.spark, SF_DIR).write.mode("overwrite").format("noop").save()
            t1 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            self.fail(name, e)
            return
        self.query_s[name].append(t1 - t0)
        self.rows += self.input_rows.get(name, 0)

    def traced_query(self, pass_id: int, name: str, sums: dict) -> None:
        sc = self.spark.sparkContext
        tr = self.tracer
        self.attempted += 1
        g = f"p{pass_id}:{name}"
        try:
            with tr.span("query", query=name):
                cpu0 = self.pyworker_cpu()
                sc.setJobGroup(g + ":build", g)
                with tr.span("plans.build") as sb:
                    df = self.queries[name](self.spark, SF_DIR)
                with tr.span("catalyst.plan") as sp:
                    plan_s, phases = sparkstats.plan_phases(df)
                sc.setJobGroup(g + ":exec", g)
                with tr.span("exec.write") as se:
                    df.write.mode("overwrite").format("noop").save()
                cpu1 = self.pyworker_cpu()
        except Exception as e:  # noqa: BLE001
            self.fail(name, e)
            return
        build = sparkstats.group_counters(self.spark, g + ":build")
        ex = sparkstats.group_counters(self.spark, g + ":exec")
        sb.counters, se.counters = build, ex
        sp.counters = {"plan_s": plan_s, **phases}
        self.record_counters(f"{name}:build", build)
        self.record_counters(f"{name}:exec", ex)

        sums["plans.build_s"] += sb.duration
        for k in BUILD_COUNTERS:
            sums[f"plans.build_{k}"] += build[k]
        sums["catalyst.plan_s"] += plan_s
        for p, ms in phases.items():
            sums[f"catalyst.{p}_ms"] += ms
        sums["exec.wall_s"] += se.duration
        for k in EXEC_COUNTERS:
            sums[f"exec.{k}"] += ex[k]
        sums["sources.input_bytes"] += build["input_bytes"] + ex["input_bytes"]
        sums["sources.input_rows"] += build["input_rows"] + ex["input_rows"]
        sums["functions.pyworker_cpu_s"] += cpu1 - cpu0

    def batch_check(self) -> None:
        for name in self.names:
            if name not in self.results:
                continue  # already counted as failed
            try:
                problems = self.checker.check(self.oracles.get(name), *self.results[name])
            except Exception as e:  # noqa: BLE001 - an oracle error fails the query
                problems = [f"oracle error: {type(e).__name__}: {e}"]
            if problems:
                self.check_problems[name] = problems
                self.failed += 1
        self.checker.close()

    # ---- stream_ingest -------------------------------------------------

    def stream_setup(self) -> None:
        """Generate the seed's input files, then a first warm drain of
        each pipeline (its sink is checked like every timed one)."""
        self.inputs = W.make_stream_inputs(self.args.seed, os.path.join(self.work, "stream_in"))
        self.pipelines = W.stream_pipelines(self.spark, self.inputs)
        self.names = list(self.pipelines)
        self.sinks: list[tuple[str, str]] = []
        for name in self.names:
            self.drain("warm", name, None)

    def drain(self, pass_id, name: str, sums: dict | None) -> tuple[float, int]:
        """One availableNow drain of one pipeline into a fresh sink and
        checkpoint. Returns (wall seconds, input rows)."""
        self.attempted += 1
        sink = os.path.join(self.work, "sinks", f"{pass_id}_{name}")
        ckpt = os.path.join(self.work, "ckpt", f"{pass_id}_{name}")
        traced = sums is not None
        try:
            with self.tracer.span("streaming.drain", pipeline=name) if traced else nullcontext() as sd:
                cpu0 = self.pyworker_cpu() if traced else 0.0
                t0 = time.perf_counter()
                q = (
                    self.pipelines[name]()
                    .writeStream.format("parquet")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                wall = time.perf_counter() - t0
                cpu1 = self.pyworker_cpu() if traced else 0.0
        except Exception as e:  # noqa: BLE001
            self.fail(f"drain {name}", e)
            return 0.0, 0
        self.sinks.append((name, sink))
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        rows = int(sum(p["numInputRows"] for p in progress))
        if pass_id == "warm":
            return wall, rows
        if not traced:
            self.query_s[name].append(wall)
            self.batch_s[name].extend(p["durationMs"]["triggerExecution"] / 1000.0 for p in progress)
            return wall, rows

        ex = sparkstats.group_counters(self.spark, str(q.runId))
        sd.counters = ex
        self.record_counters(f"{name}:exec", ex)
        sums["exec.wall_s"] += wall
        for k in EXEC_COUNTERS:
            sums[f"exec.{k}"] += ex[k]
        sums["sources.input_bytes"] += ex["input_bytes"]
        sums["sources.input_rows"] += ex["input_rows"]
        sums["functions.pyworker_cpu_s"] += cpu1 - cpu0
        for metric, key in STREAM_DURATIONS.items():
            sums[f"streaming.{metric}"] += sum(p["durationMs"].get(key, 0) for p in progress)
        ops = [o for p in progress for o in p.get("stateOperators", [])]
        sums["streaming.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        last_ops = progress[-1].get("stateOperators", []) if progress else []
        sums["streaming.state_rows"] += sum(o.get("numRowsTotal", 0) for o in last_ops)
        sums["streaming.state_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in last_ops)
        sums["streaming.sink_bytes"] += dir_bytes(sink)
        sums["streaming.checkpoint_bytes"] += dir_bytes(ckpt)
        self.record_counters(f"{name}:sink", {"input_rows": rows})
        return wall, rows

    def stream_pass(self, pass_id: int, traced: bool) -> float:
        order = list(self.names)
        random.Random(self.args.seed * 1000 + pass_id).shuffle(order)
        sums: dict[str, float] = defaultdict(float)
        t_pass = time.perf_counter()
        rows = 0
        with self.tracer.span("pass", pass_id=pass_id) if traced else nullcontext():
            for name in order:
                rows += self.drain(pass_id, name, sums if traced else None)[1]
        wall = time.perf_counter() - t_pass
        if traced:
            sums["streaming.written_per_input_byte"] = (
                sums["streaming.sink_bytes"] + sums["streaming.checkpoint_bytes"]
            ) / sum(self.inputs["input_bytes"].values())
            self.layer_passes.append(sums)
        else:
            self.rows += rows
        return wall

    def stream_check(self) -> None:
        for name, sink in self.sinks:
            problems = check_sink(
                sink, self.inputs["expected"][name], self.inputs["cols"][name]
            )
            if problems:
                self.check_problems[f"{name}@{os.path.basename(sink)}"] = problems
                self.failed += 1

    # ---- the run ---------------------------------------------------------

    def run(self) -> dict:
        stream = self.args.workload == "stream_ingest"
        setup = self.stream_setup if stream else self.batch_setup
        one_pass = self.stream_pass if stream else self.batch_pass
        check = self.stream_check if stream else self.batch_check

        self.start()
        t0 = time.perf_counter()
        setup()
        for i in range(EXTRA_WARM_PASSES.get(self.args.workload, 0)):
            one_pass(-1 - i, traced=False)
        self.query_s.clear()
        self.batch_s.clear()
        self.rows = 0
        self.parts["session.warm_s"] = time.perf_counter() - t0
        setup_s = procfs.age_seconds()
        pass_id = 0
        t0 = time.perf_counter()
        # untraced passes give the end-to-end metrics, at least
        # MIN_PASSES of them, so that their median leaves out a pass
        # still slowed by JIT compilation or a burst of host load. A
        # traced run alternates traced and untraced passes, at least two
        # traced ones so counters can be compared; its untraced passes
        # after the first are the base of the tracing overhead
        while True:
            rows = self.rows
            wall = one_pass(pass_id, traced=False)
            pass_id += 1
            self.pass_s.append(wall)
            self.rows_per_s.append((self.rows - rows) / wall)
            if self.args.trace:
                self.traced_pass_s.append(one_pass(pass_id, traced=True))
                pass_id += 1
                if len(self.traced_pass_s) < 2:
                    continue
            elif len(self.pass_s) < MIN_PASSES:
                continue
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        t0 = time.perf_counter()
        check()
        self.parts["check.oracle_s"] = time.perf_counter() - t0
        self.parts["session.peak_rss_mb"] = procfs.peak_rss_mb(self.jvm_pid)

        # the latency medians are taken per operation, then over the
        # operations, so each query or pipeline weighs the same however
        # many jobs or micro-batches it runs
        e2e = {
            "setup_s": setup_s,
            "pass_s": M.median(self.pass_s),
            "query_p50_s": _median_over_ops(self.query_s),
            "batch_p50_s": _median_over_ops(self.batch_s),
            "rows_per_s": M.median(self.rows_per_s),
        }
        self.report(e2e)
        if not self.args.trace:
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        layers = self.layer_metrics()
        return {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER}

    def layer_metrics(self) -> dict[str, float]:
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update(self.parts)
        for k in {k for p in self.layer_passes for k in p}:
            out[k] = M.median([p.get(k, 0.0) for p in self.layer_passes])
        traced = M.median(self.traced_pass_s)
        out["trace.pass_s"] = traced
        out["trace.untraced_pass_s"] = M.median(self.pass_s[1:])
        out["trace.overhead_s"] = traced - out["trace.untraced_pass_s"]
        out["plans.build_share"] = out["plans.build_s"] / traced
        out["catalyst.plan_share"] = out["catalyst.plan_s"] / traced
        out["exec.share"] = out["exec.wall_s"] / traced
        n_passes = len(self.traced_pass_s)
        for name, total in self_time_by_name(self.tracer.spans).items():
            out[f"{name}.self_s"] = total / n_passes
        exact = sorted(k for k, v in self.counter_runs.items() if len(set(v)) == 1)
        varying = sorted(k for k, v in self.counter_runs.items() if len(set(v)) > 1)
        out["trace.exact_counters"] = len(exact)
        out["trace.varying_counters"] = len(varying)
        print(f"counters exact over {n_passes} traced passes: {len(exact)}")
        for k in varying:
            print(f"counter varies: {k} {self.counter_runs[k]}")
        self.write_trace(exact, varying)
        for k in out:
            M.check_name(k)
        return out

    def write_trace(self, exact: list[str], varying: list[str]) -> None:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}")
        self.tracer.write(stem + "-spans.jsonl")
        with open(stem + "-counters.json", "w") as f:
            json.dump({"exact": exact, "varying": varying, "values": self.counter_runs}, f, indent=1)
        print(f"trace written to {os.path.relpath(stem, ROOT)}-spans.jsonl")

    def report(self, e2e: dict) -> None:
        a = self.args
        print(f"workload {a.workload} seed {a.seed} on local[{os.environ['SPARK_GRAFT_CPUS']}],"
              f" 1 closed-loop client, {len(self.pass_s)} untraced + "
              f"{len(self.traced_pass_s)} traced passes")
        print("pass_s each: " + " ".join(f"{v:.3f}" for v in self.pass_s)
              + (" | traced: " + " ".join(f"{v:.3f}" for v in self.traced_pass_s) if self.traced_pass_s else ""))
        parts = " + ".join(
            f"{k} {v:.3f}" for k, v in self.parts.items() if k.startswith("session.") and k.endswith("_s")
        )
        print(f"setup_s {e2e['setup_s']:.3f} s from process start: {parts}")
        print(f"check.oracle_s {self.parts['check.oracle_s']:.3f} s, outside the timed passes")
        for label, samples in (("query latency", self.query_s), ("batch time", self.batch_s)):
            print(f"{label}: {M.describe([v for vs in samples.values() for v in vs])}")
            for name, values in sorted(samples.items()):
                print(f"  {name}: {M.describe(values)}")
        print(f"session.peak_rss_mb {self.parts['session.peak_rss_mb']:.1f} MB (driver JVM VmHWM)")
        print(f"failed_ratio {self.failed}/{self.attempted} = {self.failed / self.attempted:.4f}")
        for name, problems in self.check_problems.items():
            print(f"CHECK FAILED {name}: {'; '.join(problems)}")
        for k, v in e2e.items():
            print(f"{k} {v:.4f} {END_TO_END[k]}")


def _median_over_ops(samples: dict[str, list[float]]) -> float:
    """Median over operations of each operation's own median; 0 when
    every operation failed."""
    medians = [M.median(x) for x in samples.values() if x]
    return M.median(medians) if medians else 0.0


def setup_env(work: str) -> None:
    """Point every process of the run (workers included) at this
    checkout and keep temporary files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The session's default 16g heap is as large as a small shared VM,
    # and G1 grows the driver to 3-5 GB resident at sf0.01; 2g keeps it
    # under 2 GB with passes no slower. See README.md.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "joblink_etl_spark")):
        log(f"no joblink_etl_spark package beside {os.path.basename(HERE)}/: "
            "run from a checkout of the repository")
        return 2
    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    setup_env(work)
    bench = Bench(args, work)
    try:
        result_metrics = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
