"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. Stages the workload's
seeded inputs in a scratch directory inside the checkout, starts one
Spark session on ``local[n]`` (n = min(4, available cores)), runs one
excluded check pass (outputs checked against the DuckDB oracle, which also
warms the JVM) and one untimed warm pass, then times back-to-back passes
for about ``S`` seconds: a pass starts only if it is expected to end within
them, and there are at least three. The last line of
standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
Spark's event log is on and the metrics are the per-layer ones (see
``layers.py``). Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# what the benchmark drives; without them there is nothing to measure
REQUIRED = ("bench.py", "__spark_entry__.py", "htrc_feature_reader_spark",
            os.path.join("scripts", "check_oracle.py"))
MAX_CORES = 4
DRIVER_MEM = "3g"
# a fixed heap and young generation: the JVM's resident size then follows
# what the work keeps live, not the collector's resizing decisions
YOUNG_GEN = "1g"
STAGE_REPEATS = 3
# the JIT keeps compiling for a few passes after the check pass: one more
# untimed pass, then per-operation medians over the timed ones, so a
# still-warming first timed pass does not set the figure
WARM_PASSES = 1
MIN_PASSES = 3

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("build_s", "s"),
    ("peak_rss_mb", "MB"),
]


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _isolate(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _per_op_median(passes: list[list[dict]], *fields: str) -> float:
    """One pass as the sum of each operation's median time over the passes:
    a slow sample of one operation does not drag in the rest of its pass."""
    by_op: dict[str, list[float]] = {}
    for recs in passes:
        for r in recs:
            by_op.setdefault(r["name"], []).append(sum(r[f] for f in fields))
    return sum(_median(v) for v in by_op.values())


def bench(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    conf = _isolate(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import layers  # noqa: PLC0415
    import workloads  # noqa: PLC0415
    from htrc_feature_reader_spark import get_spark  # noqa: PLC0415

    if trace:
        conf.update(layers.event_log_conf(os.path.join(work, "events")))
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", cores=cores,
                      shuffle_partitions=2 * cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    _log(f"{workload}: session on local[{cores}] in {session_s:.2f} s")

    w = workloads.WORKLOADS[workload](spark, work, seed)
    stage_s = []
    for i in range(STAGE_REPEATS):
        d = os.path.join(work, f"inputs{i}")
        t0 = time.perf_counter()
        w.stage(d)
        stage_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"inputs{i - 1}"))
    ops = w.ops()
    _log(f"{workload}: staged {w.info} in {[round(s, 2) for s in stage_s]} s")

    spans = layers.StoreSpans()
    attempted = failed = 0
    problems: list[str] = []

    def record(tag: str, fn, *args):
        sc.setJobGroup(tag, tag)
        return fn(*args)

    with spans.installed() if trace else nullcontext():
        # excluded check pass: checks every operation's output, warms the JVM
        w.before_pass()
        cold_s = 0.0
        for op in ops:
            attempted += 1
            try:
                t0 = time.perf_counter()
                obj = record(f"check:{op.name}:build", op.build)
                res = record(f"check:{op.name}:run", op.collect or op.run, obj)
                dt = time.perf_counter() - t0
                cold_s += dt
                _log(f"  check {op.name}: {dt:.2f} s")
                bad = op.verify(res if op.collect else obj)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                bad = [f"{op.name}: {type(e).__name__}: {str(e)[:300]}"]
            if bad:
                failed += 1
                problems += bad
        try:
            bad = w.after_check_pass()
        except Exception as e:  # noqa: BLE001
            bad = [f"{workload} pass check: {type(e).__name__}: {e}"]
        if bad:
            failed += 1
            problems += bad
        setup_s = session_s + _median(stage_s) + cold_s
        _log(f"{workload}: check pass {cold_s:.2f} s, problems: {problems or 'none'}")

        def one_pass(tag: str) -> list[dict]:
            nonlocal attempted, failed
            w.before_pass()
            recs = []
            for op in ops:
                attempted += 1
                try:
                    a = time.perf_counter()
                    obj = record(f"{tag}:{op.name}:build", op.build)
                    t1, b = time.time(), time.perf_counter()
                    record(f"{tag}:{op.name}:run", op.run, obj)
                    t2, c = time.time(), time.perf_counter()
                except Exception as e:  # noqa: BLE001
                    failed += 1
                    problems.append(f"{tag}:{op.name}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                recs.append({"name": op.name, "build_s": b - a, "run_s": c - b,
                             "t1": t1, "t2": t2})
            _log(f"  {tag}: " + " ".join(
                f"{r['name']}={r['build_s']:.2f}+{r['run_s']:.2f}" for r in recs))
            return recs

        # untimed warm passes, then timed passes back to back while the
        # next one is expected to end within the time (the run length then
        # does not depend on how far the last pass overshoots)
        for i in range(WARM_PASSES):
            setup_s += sum(r["build_s"] + r["run_s"] for r in one_pass(f"w{i}"))
        spans.reset()
        passes: list[list[dict]] = []
        pass_s: list[float] = []
        start = time.perf_counter()
        while (len(passes) < MIN_PASSES
               or time.perf_counter() - start + _median(pass_s) <= seconds):
            t0 = time.perf_counter()
            passes.append(one_pass(f"p{len(passes)}"))
            pass_s.append(time.perf_counter() - t0)
        sc.setJobGroup("stats", "stats")
        store = w.ingest.store_stats() if hasattr(w, "ingest") else {}

    walls = [sum(r["build_s"] + r["run_s"] for r in recs) for recs in passes]
    wall_s = _per_op_median(passes, "build_s", "run_s")
    _log(f"{workload}: {len(passes)} timed passes, walls {[round(x, 2) for x in walls]}")
    peak_kb = _hwm_kb(os.getpid()) + _hwm_kb(sc._gateway.proc.pid)
    _stop(sc)

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "build_s": _per_op_median(passes, "build_s"),
            "peak_rss_mb": peak_kb / 1024.0,
        }
        units = dict(END_TO_END)
    else:
        metrics = {name: 0.0 for name, _ in layers.LAYER_METRICS}
        units = dict(layers.LAYER_METRICS)
        for cls in workloads.WORKLOADS.values():
            for name in cls.op_names():
                for field, unit in layers.QUERY_METRICS:
                    metrics[f"q.{name}.{field}"] = 0.0
                    units[f"q.{name}.{field}"] = unit
        metrics.update(layers.layer_metrics(
            layers.read_events(os.path.join(work, "events")), passes))
        metrics["session.start_s"] = session_s
        metrics["build.s"] = _per_op_median(passes, "build_s")
        metrics["jit.cold_minus_warm_s"] = cold_s - wall_s
        metrics["store.checkpoints"] = spans.checkpoints / len(passes)
        metrics["store.probe_s"] = spans.probe_s / len(passes)
        metrics["store.append_s"] = spans.append_s / len(passes)
        if store:
            batches = [r for recs in passes for r in recs if r["name"].startswith("ingest")]
            metrics["store.files"] = store["files"]
            metrics["store.rows"] = store["rows"]
            metrics["store.bytes_per_input_byte"] = store["bytes"] / w.info["text_bytes"]
            metrics["store.batch_p50_s"] = _median([r["build_s"] + r["run_s"] for r in batches])
            # the last batch probes the largest stores
            metrics["store.batch_late_s"] = _median(
                [b["build_s"] + b["run_s"] for b in batches[w.BATCHES - 1::w.BATCHES]])
        metrics["trace.wall_s"] = wall_s
        metrics["trace.overhead_s"] = wall_s - _baseline_wall(workload)
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
    for p in problems:
        _log(f"FAILED {p}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _stop(sc) -> None:
    """Stop the Spark context and wait for its JVM (and so its Python
    workers) to end: stopping the session alone leaves the local JVM
    running."""
    gateway = sc._gateway
    sc.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - last resort, then wait for the kill
        gateway.proc.kill()
        gateway.proc.wait()


def _baseline_wall(workload: str) -> float:
    """Untraced ``wall_s`` median from the committed baseline (0 if none)."""
    try:
        with open(os.path.join(HERE, "baseline.json")) as f:
            return json.load(f)["workloads"][workload]["end_to_end"]["wall_s"]["median"]
    except (OSError, KeyError, ValueError):
        return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _log(f"not run from a checkout of the engine: missing {missing}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        if "pyspark" in sys.modules:  # a session an error left running
            from pyspark import SparkContext  # noqa: PLC0415

            if SparkContext._active_spark_context is not None:
                _stop(SparkContext._active_spark_context)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
