"""Benchmark of the KG-construction engine: one command, one workload.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` runs the traced layer-by-layer variant and prints
the per-layer metrics.  Human-readable lines go first; the last line of
standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (inputs, outputs, Spark scratch, event log)
lives under ``.kgbench_work/`` in the current directory and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("kg_build", "query_curate")
SETUP_REPEATS = 3
# two task threads leave the other two cores of a four-core host to the
# Python driver, the JVM's driver thread and its JIT compilers
CORES = 2


# ---------------------------------------------------------------------------
# Peak RSS of this process and its descendants (JVM, Python workers)
# ---------------------------------------------------------------------------

def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += children.get(pid, [])
    return total


class RssSampler:
    """Samples the process tree's resident set every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak_kb = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def start_session(work: str, event_log: str | None):
    """The engine's own session factory, local[CORES], scratch inside
    ``work``.  Executors import the engine from the repository root."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    from rdf_dtdl_fabric_ontology_converter_spark.session import build_session
    extra = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap (-Xms = -Xmx), so that neither the timings nor the
        # peak RSS depend on when G1 chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app="kgbench", master=f"local[{CORES}]",
                          shuffle_partitions=CORES, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Runs
# ---------------------------------------------------------------------------

def make_workload(name: str, spark, work: str, seed: int):
    import workloads as w
    return {"kg_build": w.KgBuild,
            "query_curate": w.QueryCurate}[name](spark, work, seed)


def timed_setup(wl) -> float:
    """Median of repeated input generation (each repeat rewrites the
    same inputs)."""
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_yield")):
        return "ratio"
    return "count"


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    vals = sorted(values)
    return vals[max(0, math.ceil(q * len(vals)) - 1)]


class Result:
    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def record(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += errs


def run_batch(wl, seconds: float, res: Result) -> list[float]:
    """Repeat the job until ``seconds`` have passed (at least once)."""
    times = []
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        try:
            wl.run_job()
            dt = time.perf_counter() - t0
            res.record(wl.check())
        except Exception as e:  # a failed job is counted, not fatal
            dt = time.perf_counter() - t0
            res.record([f"job raised {type(e).__name__}: {e}"[:300]])
            traceback.print_exc(file=sys.stderr)
        times.append(dt)
    return times


def run_ops(wl, ops, res: Result, tr=None) -> list[tuple[str, float]]:
    lat = []
    for op in ops:
        t0 = time.perf_counter()
        try:
            got = wl.run_op(op, tr)
            dt = time.perf_counter() - t0
            res.record(wl.check_op(op, got))
        except Exception as e:  # a failed operation is counted, not fatal
            dt = time.perf_counter() - t0
            res.record([f"{op.kind} raised {type(e).__name__}: {e}"[:300]])
        lat.append((op.kind, dt))
    return lat


def end_to_end(name: str, wl, seconds: float, res: Result) -> dict:
    """Untraced measurement: batch jobs, or whole rounds of operations,
    repeated until ``seconds`` have passed (at least one)."""
    if name == "query_curate":
        t0 = time.perf_counter()
        wl.materialize()
        setup_extra = time.perf_counter() - t0
        lat = []
        t_start = time.perf_counter()
        while not lat or time.perf_counter() - t_start < seconds:
            lat += run_ops(wl, wl.next_ops(), res)
        busy = time.perf_counter() - t_start
        vals = [d for _k, d in lat]
        per_kind: dict[str, list[float]] = {}
        for k, d in lat:
            per_kind.setdefault(k, []).append(d)
        report = {f"op.{k}_s": statistics.median(v)
                  for k, v in sorted(per_kind.items())}
        # the percentiles of a round of thirteen kinds are each set by
        # the one kind at that rank, so the gated latency is the mean
        latency = statistics.fmean(vals)
        report.update({"op_mean_s": latency,
                       "query_p50_s": statistics.median(vals),
                       "query_p90_s": pctl(vals, 0.9),
                       "ops_per_s": len(vals) / busy, "ops": len(vals)})
        rate = report["ops_per_s"]
    else:
        setup_extra = 0.0
        times = run_batch(wl, seconds, res)
        job_s = statistics.median(times)
        report = {"job_s": job_s, "jobs": len(times),
                  "docs_per_s": wl.units() / job_s,
                  "triples_per_s": wl.expected["triples"] / job_s}
        latency, rate = job_s, wl.units() / job_s
    return {"setup_extra": setup_extra, "report": report,
            "metrics": {"latency_s": latency, "throughput_per_s": rate}}


def traced(name: str, wl, spark, res: Result) -> dict:
    """The traced unit runs first, in a fresh session, like the untraced
    unit of an end-to-end run, so its layers add up to that unit.

    On ``query_curate`` the SPARQL operations of a second round, run
    warm in four passes (untraced, traced, traced, untraced), give the
    tracing overhead.  On
    ``kg_build`` three units do not fit the 180 s run limit, so
    ``trace.overhead_s`` stays 0."""
    from spans import Tracer
    run_id = f"{name}/s{wl.seed}/{os.getpid()}"
    tr = Tracer(spark, run_id)
    if name == "kg_build":
        wl.run_traced(tr)
        res.record(wl.check())
        return {"tracer": tr}
    wl.materialize(tr)
    ops = wl.next_ops()
    lat = run_ops(wl, ops, res, tr)
    by_layer: dict[str, list[float]] = {}
    for op, (_k, dt) in zip(ops, lat):
        by_layer.setdefault(op.layer, []).append(dt)
    with tr.untraced():
        tr.counts.update(wl.ratios(ops))
    tr.counts.update({
        "sparql.p50_s": statistics.median(by_layer["sparql"]),
        "shacl.p50_s": statistics.median(by_layer["shacl"]),
        "linking.p50_s": statistics.median(by_layer["linking"]),
        "sparql.rows_out": sum(len(op.result) for op in ops
                               if op.layer == "sparql"),
        "shacl.rows_out": sum(len(op.result) for op in ops
                              if op.layer == "shacl"),
    })
    # overhead: the round's SPARQL operations again, warm (whole rounds
    # would not fit the run limit), untraced, traced, traced, untraced, so
    # that warm-up still going on over the four passes cancels out
    again = [op for op in wl.next_ops() if op.layer == "sparql"]
    over = Tracer(spark, run_id + "/overhead")
    passes = []
    for t in (None, over, over, None):
        t0 = time.perf_counter()
        run_ops(wl, again, res, t)
        passes.append(time.perf_counter() - t0)
    tr.counts["trace.overhead_s"] = (passes[1] + passes[2]
                                     - passes[0] - passes[3]) / 2
    return {"tracer": tr}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import rdf_dtdl_fabric_ontology_converter_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot import the engine ({e}); kgbench/ must sit "
              "in the repository root", file=sys.stderr)
        return 2

    work = os.path.abspath(".kgbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    res = Result()
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, event_log)
            session_s = time.perf_counter() - t0
            wl = make_workload(args.workload, spark, work, args.seed)
            gen_s = timed_setup(wl)
            wl.derive()
            if args.trace:
                out = traced(args.workload, wl, spark, res)
            else:
                out = end_to_end(args.workload, wl, args.seconds, res)
        stop_session(spark)
        spark = None
        if args.trace:
            import spans as T
            tr = out["tracer"]
            jobs, shuffle, tasks = T.read_event_log(event_log)
            metrics = {n: 0.0 for n in T.metric_names()}
            metrics.update(T.layer_metrics(tr.spans, jobs, shuffle, tasks))
            metrics.update(tr.counts)
            for sp in tr.spans:
                print("span " + json.dumps(sp.__dict__))
            units = {n: unit_of(n) for n in metrics}
        else:
            setup_s = session_s + gen_s + out["setup_extra"]
            metrics = dict(out["metrics"], setup_s=setup_s,
                           peak_rss_mb=rss.peak_kb / 1024)
            units = {n: unit_of(n) for n in metrics}
            report = dict(out["report"], setup_s=setup_s,
                          failed_ops_ratio=res.failed / max(res.attempted, 1),
                          peak_rss_mb=rss.peak_kb / 1024)
            for k, v in report.items():
                print(f"{args.workload} {k} = {v:.6g} {unit_of(k)}")
        for e in res.errors[:20]:
            print(f"{args.workload} MISMATCH {e}")
        print(json.dumps({
            "correct": res.failed == 0 and res.attempted > 0,
            "attempted": res.attempted, "failed": res.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
