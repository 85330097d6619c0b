"""Per-layer tracing for traced runs (``--trace 1``).

Three sources, all read from the benchmark's side of the program:

- wrappers around the engine's public functions (``io.load_table``
  and the streaming drains), bound in place of the originals in every
  engine module that imported them;
- a ``StreamingQueryListener`` collecting every micro-batch progress;
- Spark's own status API (``/api/v1`` jobs, stages and SQL node
  metrics), read once after the timed passes.

Each query execution runs under its own job group. Stream drains run
on Spark's stream threads, which do not inherit the group, so their
jobs and SQL executions are attributed by time window instead and
counted as unattributed.
"""

from __future__ import annotations

import json
import re
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timezone

ENGINE = "glue_etl_pyspark_spark"
DRAINS = ("drain_to_memory", "drain_micro_batches", "foreach_batch_collect",
          "foreach_batch_to_parquet")
PY_RUN = "time to run Python workers"


@dataclass
class Execution:
    """One timed query execution."""

    group: str
    query: str
    pass_no: int
    traced: bool
    t0: float  # wall clock, epoch seconds
    t1: float = 0.0
    build_s: float = 0.0
    materialize_s: float = 0.0
    error: str = ""


@dataclass
class Calls:
    """Counts and busy time of wrapped engine calls, per pass."""

    n: dict = field(default_factory=lambda: defaultdict(int))
    s: dict = field(default_factory=lambda: defaultdict(float))
    drains: list = field(default_factory=list)  # (pass, t0, t1)


class Tracer:
    def __init__(self):
        self.calls = Calls()
        self.pass_no: int | None = None  # None: wrappers record nothing
        self.progress: list[dict] = []
        self._listener = None

    # -- engine function wrappers ------------------------------------
    def instrument(self) -> None:
        from glue_etl_pyspark_spark import io
        from glue_etl_pyspark_spark.streaming import ops

        _rebind(io.load_table, self._timed("io.load_table", io.load_table))
        for name in DRAINS:
            fn = getattr(ops, name)
            _rebind(fn, self._drain(fn))

    def _timed(self, key, fn):
        def wrapper(*a, **kw):
            if self.pass_no is None:
                return fn(*a, **kw)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.calls.n[(self.pass_no, key)] += 1
                self.calls.s[(self.pass_no, key)] += time.perf_counter() - t0
        return wrapper

    def _drain(self, fn):
        def wrapper(*a, **kw):
            if self.pass_no is None:
                return fn(*a, **kw)
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.calls.drains.append((self.pass_no, t0, time.time()))
        return wrapper

    # -- streaming progress ------------------------------------------
    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def unlisten(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None


def _rebind(orig, wrapper) -> None:
    """Bind ``wrapper`` in place of ``orig`` in every loaded engine
    module (``from .io import load_table`` copies the binding)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == ENGINE or name.startswith(ENGINE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


# -- Spark status API -------------------------------------------------

class StatusApi:
    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 15.0) -> None:
        """Wait until the status store holds no running job or SQL
        execution (its listener lags the actions)."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if not self.get("jobs?status=running") and not any(
                s["status"] == "RUNNING" for s in self.get("sql?details=false&offset=0&length=1000000")
            ):
                return
            time.sleep(0.2)


def _epoch(ts: str | None) -> float | None:
    """'2026-10-17T02:31:39.827GMT' -> epoch seconds."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def metric_value(raw: str) -> float:
    """Total of a SQL metric string: '40,000', '103 ms', '4.0 MiB', or
    'total (min, med, max ...)\\n9.5 s (2.1 s, ...)' -> seconds/bytes."""
    line = raw.strip().split("\n")[-1]
    head = line.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0])


def _max_stage(raw: str) -> int | None:
    m = re.search(r"\(stage (\d+)\.\d+: task", raw)
    return int(m.group(1)) if m else None


def _spans_union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(
    execs: list[Execution],
    api: StatusApi,
    tracer: Tracer,
    cores: int,
    table_rows: dict[str, int],
    query_tables: dict[str, tuple[str, ...]],
) -> tuple[dict[str, float], dict[str, str]]:
    """Per-layer metrics over the traced passes (median of per-pass
    values) and the counters dropped by validation (name -> reason)."""
    api.settle()
    jobs = api.get("jobs")
    stages = api.get("stages")
    sqls = api.get("sql?details=true&planDescription=false&offset=0&length=1000000")
    traced = [e for e in execs if e.traced and not e.error]
    by_group = {e.group: e for e in traced}

    def window(t: float | None) -> Execution | None:
        if t is None:
            return None
        for e in traced:
            if e.t0 <= t <= e.t1:
                return e
        return None

    per: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # jobs -> executions (group first, else time window)
    job_exec: dict[int, Execution] = {}
    spans: dict[str, list] = defaultdict(list)
    for j in jobs:
        e = by_group.get(j.get("jobGroup") or "")
        if e is None:
            e = window(_epoch(j.get("submissionTime")))
            if e is None:
                continue
            per[e.pass_no]["spark.unattributed_jobs"] += 1
        job_exec[j["jobId"]] = e
        per[e.pass_no]["spark.jobs"] += 1
        a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if a is not None and b is not None:
            spans[e.group].append((max(a, e.t0), min(b, e.t1)))
    # a stage belongs to the first job listing it (later ones skip it)
    stage_exec: dict[int, Execution] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        if j["jobId"] in job_exec:
            for sid in j["stageIds"]:
                stage_exec.setdefault(sid, job_exec[j["jobId"]])
    ran = [s for s in stages if s["status"] == "COMPLETE" and s["stageId"] in stage_exec]
    # SQL executions -> query executions, nodes de-duplicated: a
    # persisted sub-plan repeats its (shared) metrics at every use
    sql_nodes: dict[str, dict] = defaultdict(dict)
    for s in sqls:
        e = by_group.get(s.get("description") or "")
        if e is None:
            e = window(_epoch(s.get("submissionTime")))
        if e is None:
            continue
        for n in s["nodes"]:
            ms = {m["name"]: m["value"] for m in n["metrics"]}
            if ms:
                sql_nodes[e.group][(n["nodeName"], tuple(sorted(ms.items())))] = (n["nodeName"], ms)

    # keys starting with "_" feed validation only
    kernel_stage_ids: set[int] = set()
    for e in traced:
        m = per[e.pass_no]
        m["queries.build_s"] += e.build_s
        m["exec.materialize_s"] += e.materialize_s
        union = _spans_union([s for s in spans[e.group] if s[1] > s[0]])
        m["spark.job_span_s"] += union
        m["spark.driver_s"] += max(0.0, (e.t1 - e.t0) - union)
        joins = 0.0
        for name, ms in sql_nodes[e.group].values():
            if PY_RUN in ms:
                m["kernel.python_run_s"] += metric_value(ms[PY_RUN])
                m["kernel.python_init_s"] += metric_value(ms.get("time to initialize Python workers", "0"))
                m["kernel.arrow_bytes_in"] += metric_value(ms.get("data sent to Python workers", "0"))
                m["kernel.arrow_bytes_out"] += metric_value(ms.get("data returned from Python workers", "0"))
                sid = _max_stage(ms[PY_RUN])
                if sid is not None:
                    kernel_stage_ids.add(sid)
            if "number of written files" in ms:
                m["sources.files_written"] += metric_value(ms["number of written files"])
                m["sources.bytes_written"] += metric_value(ms.get("written output", "0"))
                m["sources.commit_s"] += metric_value(ms.get("job commit time", "0")) + metric_value(
                    ms.get("task commit time", "0"))
            if "shuffle bytes written" in ms:
                m["_exchange_bytes"] += metric_value(ms["shuffle bytes written"])
            if "Join" in name and "number of output rows" in ms:
                joins = max(joins, metric_value(ms["number of output rows"]))
        if e.query == "dedup_ngram_jaccard":
            m["dedup.candidate_rows"] += joins
        if e.query == "knn_bruteforce_cosine":
            m["knn.pairs_scored"] += joins
        m["_base_rows"] += sum(table_rows[t] for t in set(query_tables[e.query]))

    for s in ran:
        e = stage_exec[s["stageId"]]
        m = per[e.pass_no]
        m["spark.stages"] += 1
        m["spark.tasks"] += s["numTasks"]
        m["spark.exec_run_s"] += s["executorRunTime"] / 1e3
        m["spark.exec_cpu_s"] += s["executorCpuTime"] / 1e9
        m["spark.gc_s"] += s.get("jvmGcTime", 0) / 1e3
        m["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
        m["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
        m["spark.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        m["spark.input_records"] += s["inputRecords"]
        m["_input_bytes"] += s["inputBytes"]
    for s in ran:
        if s["stageId"] in kernel_stage_ids:
            m = per[stage_exec[s["stageId"]].pass_no]
            prev = m.get("spark.kernel_stage_tasks")
            m["spark.kernel_stage_tasks"] = s["numTasks"] if not prev else min(prev, s["numTasks"])

    # streaming: progress events by trigger time, drains by pass
    for p in tracer.progress:
        e = window(_epoch(p.get("timestamp", "").replace("Z", "GMT")))
        if e is None:
            continue
        m = per[e.pass_no]
        d = p.get("durationMs", {})
        m["streaming.batches"] += 1
        m["streaming.input_rows"] += p.get("numInputRows", 0)
        m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        m["streaming.add_batch_ms"] += d.get("addBatch", 0)
        m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
        m["streaming.wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        for op in p.get("stateOperators", []):
            m["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
            m["streaming.state_rows"] += op.get("numRowsTotal", 0)
            m["streaming.state_memory_bytes"] += op.get("memoryUsedBytes", 0)
    for pass_no, a, b in tracer.calls.drains:
        per[pass_no]["_drain_s"] += b - a
    for (pass_no, key), n in tracer.calls.n.items():
        per[pass_no][f"{key}_calls"] += n
        per[pass_no][f"{key}_s"] += tracer.calls.s[(pass_no, key)]

    for m in per.values():
        m["spark.core_busy_frac"] = (
            m["spark.exec_run_s"] / (m["spark.job_span_s"] * cores) if m["spark.job_span_s"] else 0.0
        )
        m["streaming.start_stop_s"] = max(
            0.0, m.pop("_drain_s", 0.0) - m["streaming.trigger_ms"] / 1e3)

    dropped = validate(per.values())
    names = sorted({k for m in per.values() for k in m if not k.startswith("_")})
    out = {k: statistics.median([m.get(k, 0.0) for m in per.values()]) for k in names}
    return out, dropped


def validate(passes) -> dict[str, str]:
    """Cross-check Spark's byte and record counters; name -> reason
    for each one that fails (it is then reported as dropped)."""
    dropped: dict[str, str] = {}
    for m in passes:
        if m["spark.input_records"] < m["_base_rows"]:
            dropped["spark.input_records"] = (
                f"{m['spark.input_records']:.0f} records read < {m['_base_rows']:.0f} "
                "rows in the tables the queries read (DuckDB count)")
        sql_bytes = m["_exchange_bytes"]
        w = m["spark.shuffle_write_bytes"]
        if (w > 0) != (sql_bytes > 0) or abs(w - sql_bytes) > 0.05 * max(w, sql_bytes) + 1024:
            dropped["spark.shuffle_write_bytes"] = (
                f"stages wrote {w:.0f} shuffle bytes, Exchange nodes report {sql_bytes:.0f}")
        if (m["spark.shuffle_read_bytes"] > 0) != (w > 0):
            dropped["spark.shuffle_read_bytes"] = "shuffle read present without a shuffle write, or the reverse"
        if m["_input_bytes"] < 8 * m["spark.input_records"]:
            dropped["spark.input_bytes"] = (
                f"stage inputBytes {m['_input_bytes']:.0f} for {m['spark.input_records']:.0f} "
                "records (< 8 bytes a record)")
    return dropped
