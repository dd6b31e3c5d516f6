"""Benchmark child process: one SparkSession, one workload.

Started by ``run.py``; not meant to be run by hand. Both modes first
start a session and warm its Python workers; ``setup_s`` runs from
``--spawned-at``, the parent's clock reading just before it started this
process. Modes:

- ``bench``: the workload's first execution, then warm executions for
  ``--seconds`` and at least MIN_WARM of them; tracing off.
- ``trace``: as ``bench`` with Spark's event log on and a span around
  every operator call and action, except that the warm executions
  alternate between traced and untraced (event-log listener detached, no
  spans) in the order TRACE_ORDER, so the tracing overhead is measured in
  one session; then the per-layer probes and driver kernel timings.

The result is written as JSON to ``--out``.
"""

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_WARM = 3
# traced (T) and untraced (U) warm executions of the traced run: ABBA
# order, so neither side always runs in the warmer JVM
TRACE_ORDER = "TUUTTU"


def cores():
    return len(os.sched_getaffinity(0))


def build_session(run_dir, event_log_dir=None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores()}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", str(2 * cores()))
         .config("spark.local.dir", os.path.join(run_dir, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "wh")))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
              .config("spark.eventLog.dir", event_log_dir)
              .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, run_dir):
    """Writes a tiny Parquet file and runs one trivial Arrow UDF query on
    it through a shuffle, so the Python workers are up and Spark's own
    Parquet, shuffle and Arrow classes are loaded before the first
    execution, which then pays for the workload's plans, codegen and
    engine imports."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    path = os.path.join(run_dir, "warm.parquet")
    (spark.range(0, 64 * cores(), 1, cores()).selectExpr("id", "id % 8 AS k")
     .write.mode("overwrite").parquet(path))
    (spark.read.parquet(path).repartition(2 * cores(), "k")
     .select("k", plus_one("id").alias("v")).groupBy("k").count()
     .write.format("noop").mode("overwrite").save())


class Tracer:
    """Spans around the benchmark's calls into the engine. The span id is
    set as the ``perfbench.span`` local property, so Spark tags every job
    started inside the span with it (visible in the event log).
    ``pause``/``resume`` detach and re-attach Spark's event-log listener,
    after letting the listener bus deliver what is queued."""

    def __init__(self, sc):
        self.sc = sc
        self.spans = []
        self._stack = []
        self._jsc = sc._jsc.sc()
        self._logger = self._jsc.eventLogger().get()

    def pause(self):
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._logger)

    def resume(self):
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.addSparkListener(self._logger)

    @contextlib.contextmanager
    def span(self, name):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty("perfbench.span", str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "perfbench.span",
                str(self._stack[-1]) if self._stack else None)


def _no_span(name):
    return contextlib.nullcontext()


def execute(wl, spark, man, span, kind):
    """One timed execution; returns (seconds, output, problems)."""
    execute_fn, check_fn, _ = wl
    t0 = time.perf_counter()
    try:
        with span(kind):
            output = execute_fn(spark, man, span)
    except Exception:
        return (time.perf_counter() - t0, None,
                ["raised: " + traceback.format_exc(limit=3).strip()[-600:]])
    secs = time.perf_counter() - t0
    return secs, output, check_fn(output, man)


def record(res, problems):
    """Count one attempted execution; returns True when it passed."""
    res["attempted"] += 1
    if problems:
        res["failed"] += 1
        res["problems"].extend(problems)
    return not problems


def warm_loop(wl, spark, man, span, seconds, res):
    """Warm executions for ``seconds`` (at least MIN_WARM); returns the
    times of those whose output passed the check."""
    times = []
    t_end = time.perf_counter() + seconds
    n = 0
    while n < MIN_WARM or time.perf_counter() < t_end:
        secs, _, problems = execute(wl, spark, man, span, "warm")
        n += 1
        if record(res, problems):
            times.append(secs)
    return times


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("bench", "trace"), required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()

    trace = a.mode == "trace"
    event_log_dir = os.path.join(a.run_dir, "eventlog") if trace else None
    spark = build_session(a.run_dir, event_log_dir)
    warm_workers(spark, a.run_dir)
    res = {"setup_s": time.time() - a.spawned_at, "cores": cores()}

    with open(a.manifest) as f:
        man = json.load(f)
    tracer = Tracer(spark.sparkContext) if trace else None
    span = tracer.span if trace else _no_span
    res.update(attempted=0, failed=0, problems=[])

    # the first execution includes the driver's import of the engine,
    # which a batch job pays once
    t0 = time.perf_counter()
    sys.path.insert(0, HERE)
    import workloads
    wl = workloads.WORKLOADS[a.workload]
    _, first_output, problems = execute(wl, spark, man, span, "first")
    res["first_run_s"] = time.perf_counter() - t0
    record(res, problems)

    if trace:
        traced_warm(wl, spark, man, tracer, res)
        res["counts"] = {}
        if first_output is not None:
            counts, problems = wl[2](spark, man, tracer.span, first_output)
            res["counts"] = counts
            if problems:
                res["problems"].extend(["probe: " + p for p in problems])
        import kernels
        res["kernels"] = kernels.kernel_metrics(a.workload, man)
        res["spans"] = tracer.spans
        res["event_log_dir"] = event_log_dir
    else:
        res["warm_s"] = warm_loop(wl, spark, man, span, a.seconds, res)
    spark.stop()
    _write(a.out, res)


def traced_warm(wl, spark, man, tracer, res):
    """Warm executions in TRACE_ORDER; leaves tracing on."""
    res["warm_s"], res["untraced_warm_s"] = [], []
    for side in TRACE_ORDER:
        if side == "U":
            tracer.pause()
        secs, _, problems = execute(
            wl, spark, man, tracer.span if side == "T" else _no_span, "warm")
        if side == "U":
            tracer.resume()
        if record(res, problems):
            res["warm_s" if side == "T" else "untraced_warm_s"].append(secs)


def _write(path, res):
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    main()
