#!/usr/bin/env python3
"""The engine's benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload relational_etl_sf01 --seed 1 \\
        --seconds 12 --trace 0

One process runs the engine on ``local[$SPARK_GRAFT_CPUS]`` (default:
all usable cores) and executes the workload's registered queries one
after another, in a seed-permuted order per pass, each built with
``registry.load_all()[name].fn(spark, dir)`` and materialized by a
noop write after ``clearCache`` (bench.py's protocol). Steps:

1. generate the inputs from ``--seed`` (untimed, excluded from set-up);
2. set up: import the registry, start the Spark session cold (JVM
   launch included), then one warm-up pass outside the timed passes;
3. check the output of every query against its DuckDB oracle
   (untimed);
4. run passes until ``--seconds`` have elapsed, at least three.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones (see perfbench/README.md). The
lines before it record the environment and the details behind each
number. The exit code is 0 only when every execution succeeded and
every output was right.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from tracing import Execution, StatusApi, Tracer, layer_metrics  # noqa: E402
from workloads import WORKLOADS, Oracles, check_output  # noqa: E402

ENGINE = "glue_etl_pyspark_spark"
MIN_PASSES = 3  # a median of three plain passes; plain-traced-plain when traced
QUERY_TIMEOUT_S = 90
RUN_LIMIT_S = 140  # stop starting passes after this, to exit within 180 s

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "ok_frac": "1",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "exec.materialize_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_s": "s",
    "spark.job_span_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "1",
    "spark.kernel_stage_tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_records": "count",
    "spark.unattributed_jobs": "count",
    "kernel.python_run_s": "s",
    "kernel.python_init_s": "s",
    "kernel.arrow_bytes_in": "B",
    "kernel.arrow_bytes_out": "B",
    "dedup.candidate_rows": "count",
    "dedup.pairs": "count",
    "dedup.verify_yield": "1",
    "knn.pairs_scored": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.start_stop_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "sources.commit_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def tail(xs) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def source_digest() -> str:
    """sha256 over the engine's source files (the checkout may not be
    a git repository, so this names the code measured)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def isolate(work: str) -> None:
    """Keep every file Spark, DuckDB and the engine write inside
    ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def count_rows(in_dir: str) -> dict[str, int]:
    """Rows of each input table, counted with DuckDB."""
    import duckdb

    with duckdb.connect() as con:
        return {
            f[: -len(".parquet")]: con.execute(
                f"SELECT count(*) FROM read_parquet('{os.path.join(in_dir, f)}')").fetchone()[0]
            for f in sorted(os.listdir(in_dir))
        }


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.in_dir = os.path.join(work, "input")
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer()
        self.spark = None
        self.specs = None
        self.attempted = 0
        self.failures: list[str] = []
        self.execs: list[Execution] = []
        self.check_s: dict[str, float] = {}

    # -- one query execution -----------------------------------------
    def run_query(self, name: str, pass_no: int, traced: bool) -> Execution:
        spark, sc = self.spark, self.spark.sparkContext
        group = f"pb{pass_no}:{name}"
        sc.setJobGroup(group, group, interruptOnCancel=True)
        spark.catalog.clearCache()
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.start()
        e = Execution(group, name, pass_no, traced, time.time())
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            df = self.specs[name].fn(spark, self.in_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            e.build_s, e.materialize_s = t1 - t0, t2 - t1
        except Exception as ex:  # a failed execution is a result, not a crash
            e.error = f"{name}: {type(ex).__name__}: {str(ex).splitlines()[0][:300]}"
            self.failures.append(e.error)
        finally:
            timer.cancel()
            e.t1 = time.time()
        return e

    def one_pass(self, order, pass_no: int, traced: bool) -> list[Execution]:
        return [self.run_query(q, pass_no, traced) for q in order]

    # -- phases ------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """Import the registry, start the Spark session and run one
        warm-up pass. The session start is cold: it launches the JVM
        and its gateway, as a job does. ``setup_s`` is the sum of the
        three times."""
        t0 = time.perf_counter()
        from glue_etl_pyspark_spark import session
        from glue_etl_pyspark_spark.registry import load_all
        from glue_etl_pyspark_spark.streaming import ops

        self.specs = load_all()
        import_s = time.perf_counter() - t0
        # the engine stages stream sources under /tmp by default
        ops.STAGE_ROOT = os.path.join(self.work, "stream-stage")
        if self.args.trace:
            self.tracer.instrument()
        t0 = time.perf_counter()
        self.spark = session.get_spark(app_name="perfbench")
        get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        self.one_pass(list(self.wl.queries), -1, False)
        warmup_s = time.perf_counter() - t0
        return {"import_s": import_s, "get_spark_s": get_spark_s, "warmup_s": warmup_s,
                "setup_s": import_s + get_spark_s + warmup_s}

    def check(self) -> dict[str, int]:
        """Untimed output check of every query; returns each query's
        output row count."""
        oracles = Oracles(self.in_dir, os.path.join(self.work, "duckdb-tmp"),
                          self.specs, self.wl.queries)
        self.spark.sparkContext.setJobGroup("check", "check")
        rows = {}
        try:
            for name in self.wl.queries:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    why, rows[name] = check_output(self.spark, self.specs, self.in_dir, name, oracles)
                except Exception as ex:  # the check itself failing is a failed output
                    why = f"{name}: check raised {type(ex).__name__}: {str(ex).splitlines()[0][:300]}"
                if why:
                    self.failures.append(why)
                self.check_s[name] = time.perf_counter() - t0
        finally:
            oracles.close()
        return rows

    def timed(self, start: float) -> dict:
        rng = random.Random(self.args.seed)
        deadline = time.perf_counter() + self.args.seconds
        passes, cpu, traced_flags = [], [], []
        pass_no = 0
        while True:
            order = list(self.wl.queries)
            rng.shuffle(order)
            # traced runs alternate plain and instrumented passes,
            # starting plain; the difference of their medians is the
            # tracing overhead (passes speed up a little as a run goes
            # on, which plain-traced-plain balances)
            traced = bool(self.args.trace) and pass_no % 2 == 1
            if traced:
                self.tracer.listen(self.spark)
                self.tracer.pass_no = pass_no
            c0 = procfs.tree_cpu_s()
            t0 = time.perf_counter()
            self.execs += self.one_pass(order, pass_no, traced)
            t1 = time.perf_counter()
            c1 = procfs.tree_cpu_s()
            if traced:
                self.tracer.pass_no = None
                self.tracer.unlisten(self.spark)
            passes.append(t1 - t0)
            cpu.append(c1 - c0)
            traced_flags.append(traced)
            pass_no += 1
            now = time.perf_counter()
            if pass_no >= MIN_PASSES and (now >= deadline or now - start >= RUN_LIMIT_S):
                break
        return {"pass_s": passes, "cpu_s": cpu, "traced": traced_flags}

    def run(self, start: float) -> tuple[dict, dict, dict]:
        t0 = time.perf_counter()
        self.wl.make_inputs(self.in_dir, self.args.seed)
        table_rows = count_rows(self.in_dir)
        base_rows = sum(table_rows[t] for ts in self.wl.queries.values() for t in set(ts))
        gen_s = time.perf_counter() - t0
        cpu0, load0 = procfs.cpu_times(), os.getloadavg()
        setup = self.setup()
        out_rows = self.check()
        loop = self.timed(start)
        peak_rss = procfs.tree_peak_rss_mb()
        cpu1, load1 = procfs.cpu_times(), os.getloadavg()

        import pyspark

        env = {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_start": [round(x, 2) for x in load0],
            "loadavg_end": [round(x, 2) for x in load1],
            "steal_share": round(procfs.steal_share(cpu0, cpu1), 4),
            "java": self.spark._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "git_commit": git_commit(),
            "source_digest": source_digest(),
        }
        plain = [p for p, t in zip(loop["pass_s"], loop["traced"]) if not t]
        times = [e.t1 - e.t0 for e in self.execs if not e.error]
        q_tail, q_pct = tail(times) if times else (0.0, 0.0)
        failed = len(self.failures)
        detail = {
            "workload": self.wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "closed_loop": "1 client, queries back to back",
            "passes": len(loop["pass_s"]), "executions": len(times),
            "pass_s_all": [round(x, 4) for x in loop["pass_s"]],
            "input_rows_per_pass": base_rows,
            "rows_per_s_base": "rows of each table a query reads, once per query, summed over the pass",
            "table_rows": table_rows,
            # recorded, not bounded: see README "End-to-end metrics"
            "unbounded": {
                "query_p50_s": {"value": statistics.median(times) if times else 0.0, "unit": "s"},
                "query_tail_s": {"value": q_tail, "unit": "s", "percentile": round(q_pct, 2),
                                 "samples": len(times)},
                "peak_rss_mb": {"value": peak_rss, "unit": "MiB"},
                "failed_frac": {"value": failed / self.attempted, "unit": "1"},
            },
            "query_median_s": {
                q: round(statistics.median([e.t1 - e.t0 for e in self.execs if e.query == q and not e.error]), 4)
                for q in self.wl.queries
                if any(e.query == q and not e.error for e in self.execs)
            },
            "setup": {k: round(v, 4) for k, v in setup.items()},
            "inputs_s": round(gen_s, 4),
            "check_s": {k: round(v, 3) for k, v in self.check_s.items()},
            "failures": self.failures[:20],
        }
        if self.args.trace:
            layers, dropped = layer_metrics(
                self.execs, StatusApi(self.spark.sparkContext), self.tracer,
                self.cores, table_rows, self.wl.queries)
            layers["session.get_spark_s"] = setup["get_spark_s"]
            layers["dedup.pairs"] = out_rows.get("dedup_ngram_jaccard", 0)
            if layers.get("dedup.candidate_rows"):
                layers["dedup.verify_yield"] = layers["dedup.pairs"] / layers["dedup.candidate_rows"]
            traced_pass = [p for p, t in zip(loop["pass_s"], loop["traced"]) if t]
            layers["trace.pass_s"] = statistics.median(traced_pass)
            layers["trace.overhead_s"] = statistics.median(traced_pass) - statistics.median(plain)
            detail["dropped_counters"] = dropped
            detail["trace_overhead"] = "trace.pass_s minus the median plain pass of the same run"
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                       for k, u in PER_LAYER.items() if k not in dropped}
        else:
            pass_s = statistics.median(loop["pass_s"])
            values = {
                "setup_s": setup["setup_s"],
                "pass_s": pass_s,
                "rows_per_s": base_rows / pass_s,
                "cpu_s": statistics.median(loop["cpu_s"]),
                "ok_frac": 1.0 - failed / self.attempted,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        result = {"correct": failed == 0, "attempted": self.attempted,
                  "failed": failed, "metrics": metrics}
        return env, detail, result

    def close(self) -> None:
        """Stop Spark, then end the JVM (it exits when its stdin pipe
        closes) and wait for it, so no process outlives the run."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: the engine package {ENGINE}/ is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    bench = Bench(args, work)
    try:
        env, detail, result = bench.run(start)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    detail["wall_s"] = round(time.perf_counter() - start, 2)
    print(json.dumps({"env": env}))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
