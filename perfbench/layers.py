"""Per-layer numbers for a traced run.

Two sources, both outside the engine:

- Spark's own event log (``spark.eventLog.enabled``, zstd-compressed JSON
  lines, read with ``pyarrow.CompressedInputStream``). Every Spark job the
  benchmark causes carries a job group ``<phase>:<op>:<build|run>``, so
  jobs, stages and tasks are attributed to the operation and to the phase
  (driver-side construction or execution) that launched them.
- Spans the benchmark records around the public store functions
  (``dedup_against_store``, ``neardup_against_store``,
  ``append_signatures``, ``append_digests``) and around
  ``DataFrame.localCheckpoint``, the pins ``ingest_clean_batch`` takes
  before the stores mutate. The wrappers are installed from here, only in
  traced runs, and call the original functions unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa

# the layers the numbers are grouped by, in the order they are printed
LAYER_METRICS = [
    ("session.start_s", "s"),
    ("build.s", "s"),
    ("build.jobs", "count"),
    ("plan.s", "s"),
    ("jit.cold_minus_warm_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.one_task_stage_frac", "ratio"),
    ("exec.sched_wait_s", "s"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.cpu_per_run", "ratio"),
    ("exec.gc_s", "s"),
    ("exec.failed_tasks", "count"),
    ("exchange.count", "count"),
    ("exchange.write_bytes", "bytes"),
    ("exchange.read_bytes", "bytes"),
    ("exchange.fetch_wait_s", "s"),
    ("exchange.spill_bytes", "bytes"),
    ("scan.count", "count"),
    ("scan.bytes", "bytes"),
    ("scan.rows", "count"),
    ("python.rows", "count"),
    ("python.run_s", "s"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_returned", "bytes"),
    ("store.checkpoints", "count"),
    ("store.probe_s", "s"),
    ("store.append_s", "s"),
    ("store.files", "count"),
    ("store.rows", "count"),
    ("store.bytes_per_input_byte", "ratio"),
    ("store.batch_p50_s", "s"),
    ("store.batch_late_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]
# per-operation rows: every operation of every workload
QUERY_METRICS = [("build_s", "s"), ("run_s", "s"), ("stages", "count")]


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


class StoreSpans:
    """Time spent in the store functions and in ``localCheckpoint`` pins,
    by wrapping them for the lifetime of a ``with`` block."""

    PROBES = (("digest_store", "dedup_against_store"),
              ("signature_store", "neardup_against_store"))
    APPENDS = (("digest_store", "append_digests"),
               ("signature_store", "append_signatures"))

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.probe_s = 0.0
        self.append_s = 0.0
        self.checkpoints = 0

    def _wrap(self, fn, kind: str):
        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                setattr(self, kind, getattr(self, kind) + time.perf_counter() - t0)
        return wrapped

    @contextmanager
    def installed(self):
        import importlib  # noqa: PLC0415

        from pyspark.sql.classic.dataframe import DataFrame  # noqa: PLC0415

        saved = []
        for kind, fns in (("probe_s", self.PROBES), ("append_s", self.APPENDS)):
            for mod_name, fn_name in fns:
                mod = importlib.import_module(
                    f"htrc_feature_reader_spark.sources.{mod_name}")
                saved.append((mod, fn_name, getattr(mod, fn_name)))
                setattr(mod, fn_name, self._wrap(getattr(mod, fn_name), kind))
        pin = DataFrame.localCheckpoint
        saved.append((DataFrame, "localCheckpoint", pin))
        timed_pin = self._wrap(pin, "probe_s")

        def counted_pin(*a, **kw):
            self.checkpoints += 1
            return timed_pin(*a, **kw)

        DataFrame.localCheckpoint = counted_pin
        try:
            yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with pa.OSFile(path) as raw:
            stream = pa.CompressedInputStream(raw, "zstd") \
                if path.endswith(".zstd") else raw
            data = stream.read()
        events += [json.loads(line) for line in data.decode().splitlines() if line]
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def layer_metrics(events: list[dict], records: list[list[dict]]) -> dict:
    """Per-pass layer numbers for the timed passes.

    ``records`` holds, per timed pass, one dict per operation with its
    ``name``, ``build_s``/``run_s`` and the wall-clock ``t1``/``t2``
    (epoch seconds) that bound its run phase."""
    n_pass = max(len(records), 1)
    job_group, job_span, stage_job = {}, {}, {}
    stage_tasks = defaultdict(int)
    stage_type = {}
    python_accs, scan_files, scan_size = set(), set(), set()
    exec_group, driver_updates = {}, []
    m = defaultdict(float)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = group
            job_span[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if "jobGroupId" in e:
                exec_group[e["executionId"]] = e["jobGroupId"] or ""
            for node in _plan_nodes(e["sparkPlanInfo"]):
                name = node["nodeName"]
                accs = {x["name"]: x["accumulatorId"] for x in node["metrics"]}
                if "Python" in name or "InPandas" in name or "InArrow" in name:
                    python_accs.add(accs.get("number of output rows"))
                elif name.startswith("Scan"):
                    scan_files.add(accs.get("number of files read"))
                    scan_size.add(accs.get("size of files read"))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)

    def timed(job_id) -> bool:
        return job_group.get(job_id, "").startswith("p")

    op_stages = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if not timed(job):
                continue
            stage_tasks[e["Stage ID"]] += 1
            stage_type[e["Stage ID"]] = e["Task Type"]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            if e["Task End Reason"]["Reason"] != "Success":
                m["exec.failed_tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            m["exec.task_run_s"] += run_ms / 1e3
            m["exec.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            overhead = (tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0))
            m["exec.sched_wait_s"] += max(
                info["Finish Time"] - info["Launch Time"] - run_ms - overhead, 0) / 1e3
            sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
            m["exchange.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["exchange.read_bytes"] += (sr.get("Local Bytes Read", 0)
                                         + sr.get("Remote Bytes Read", 0))
            m["exchange.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["exchange.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["scan.rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                try:
                    upd = float(upd)  # SQL metrics arrive as strings
                except (TypeError, ValueError):
                    continue
                if name == "data sent to Python workers":
                    m["python.bytes_sent"] += upd
                elif name == "data returned from Python workers":
                    m["python.bytes_returned"] += upd
                elif name == "time to run Python workers":
                    m["python.run_s"] += upd / 1e3
                elif acc["ID"] in python_accs:
                    m["python.rows"] += upd
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = stage_job.get(info["Stage ID"])
            if timed(job) and "Submission Time" in info:
                op_stages[job_group[job].split(":")[1]] += 1
    # file scans report their file count and size from the driver
    for e in driver_updates:
        if not exec_group.get(e["executionId"], "").startswith("p"):
            continue
        for acc, value in e["accumUpdates"]:
            if acc in scan_files:
                m["scan.count"] += 1
            elif acc in scan_size:
                m["scan.bytes"] += value

    timed_jobs = [j for j in job_group if timed(j)]
    stages = list(stage_tasks)
    m["exec.jobs"] = len(timed_jobs)
    m["build.jobs"] = sum(job_group[j].endswith(":build") for j in timed_jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = sum(stage_tasks.values())
    m["exchange.count"] = sum(stage_type[s] == "ShuffleMapTask" for s in stages)
    one_task = sum(stage_tasks[s] == 1 for s in stages)
    cpu_frac = m["exec.task_cpu_s"] / m["exec.task_run_s"] if m["exec.task_run_s"] else 0.0

    # driver-side time in the run phase that no Spark job covers: planning,
    # codegen and adaptive re-planning between stages
    jobs_by_op = defaultdict(list)
    for j in timed_jobs:
        if job_span[j][1] is not None:
            jobs_by_op[job_group[j].rsplit(":", 1)[0]].append(tuple(job_span[j]))
    plan_s = 0.0
    for i, recs in enumerate(records):
        for r in recs:
            spans = [(max(a, r["t1"]), min(b, r["t2"]))
                     for a, b in jobs_by_op[f"p{i}:{r['name']}"]]
            plan_s += r["t2"] - r["t1"] - _union_s([s for s in spans if s[1] > s[0]])

    out = {k: v / n_pass for k, v in m.items()}
    out["exec.one_task_stage_frac"] = one_task / len(stages) if stages else 0.0
    out["exec.cpu_per_run"] = cpu_frac
    out["plan.s"] = plan_s / n_pass
    for name, stage_count in op_stages.items():
        out[f"q.{name}.stages"] = stage_count / n_pass
    names = {r["name"] for recs in records for r in recs}
    for name in names:
        for field in ("build_s", "run_s"):
            out[f"q.{name}.{field}"] = statistics.median(
                r[field] for recs in records for r in recs if r["name"] == name)
    return out
