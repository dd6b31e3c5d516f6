"""Repository benchmark: seeded geoprocessing and dedup workloads on local
Spark.

    python3 perfbench/run.py --workload geo_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/inputs``), every execution's output is
checked against an oracle computed without the engine, and the last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` runs with Spark's event log and the
benchmark's spans on and reports the per-layer metrics, writing a span
file under ``.perfbench_work/trace``. Workload notes: WORKLOADS.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from sampler import Sampler, proc_table  # noqa: E402

RUN_DEADLINE_S = 170     # the whole run, generation included


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _session_members(sid):
    """Pids whose session id is ``sid`` (the child and everything it
    started, including processes that moved to their own group)."""
    return [pid for pid, (_, _, s) in proc_table().items() if s == sid]


def _reap(sid, grace=20.0):
    """Wait until every process of session ``sid`` has ended, sending
    SIGTERM and then SIGKILL to stragglers."""
    t0 = time.monotonic()
    sent = None
    while True:
        pids = _session_members(sid)
        if not pids:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > grace else
               signal.SIGTERM if waited > grace / 2 else None)
        if sig is not None and sig != sent:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.1)


def spawn(mode, run_dir, deadline, log, **kw):
    """Run child.py in ``mode`` in a session of its own, sampling its
    process tree (and, when tracing, Spark's local dirs); returns
    (result dict, sampler)."""
    out = os.path.join(run_dir, f"{mode}.json")
    env = dict(os.environ,
               PYTHONPATH=ROOT,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"),
               # every JVM, spark-submit's launcher included: temp files
               # in the run directory, no /tmp/hsperfdata_* files
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir="
                                 + os.path.join(run_dir, "tmp"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--mode", mode,
           "--run-dir", run_dir, "--out", out]
    for k, v in kw.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    cmd += ["--spawned-at", repr(time.time())]
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env, cwd=ROOT,
                            start_new_session=True)
    try:
        disk = os.path.join(run_dir, "local") if mode == "trace" else None
        with Sampler(proc.pid, disk) as samp:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = "timeout"
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        _reap(proc.pid)
    if code != 0:
        raise RuntimeError(f"child ({mode}) exited with {code}")
    with open(out) as f:
        return json.load(f), samp


def _self_times(spans, children):
    """Span duration minus the part of it its child spans cover."""
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], ()) if c["end"])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        s["self_s"] = (s["end"] - s["start"]) - covered


def bench_run(a, man, run_dir, deadline, log, e2e):
    r, samp = spawn("bench", run_dir, deadline, log, workload=a.workload,
                    manifest=man["path"], seconds=a.seconds)
    if not r["warm_s"]:
        raise RuntimeError(f"no warm execution passed: {r['problems'][:3]}")
    run_s = statistics.median(r["warm_s"])
    metrics = {
        "setup_s": r["setup_s"],
        "first_run_s": r["first_run_s"],
        "run_s": run_s,
        "rows_per_s": man["rows"] / run_s,
        "peak_rss_mb": samp.peak_mb,
    }
    info = {"warm_s": r["warm_s"],
            "jvm_peak_mb": samp.jvm_peak_mb,
            "worker_peak_mb": samp.worker_peak_mb}
    return r, {k: (metrics[k], e2e[k]) for k in e2e}, info


def trace_run(a, man, run_dir, deadline, log, layers):
    import eventlog

    r, samp = spawn("trace", run_dir, deadline, log, workload=a.workload,
                    manifest=man["path"], seconds=a.seconds)
    if not (r["warm_s"] and r["untraced_warm_s"]):
        raise RuntimeError(f"no warm execution passed: {r['problems'][:3]}")
    elog = eventlog.Log(eventlog.read_events(r["event_log_dir"]))
    got = eventlog.layer_metrics(elog, r["spans"], r["cores"])
    got.update(r["counts"])
    got.update(r["kernels"])
    got["spark.local_disk_peak_mb"] = samp.disk_peak_mb
    got["st.worker_peak_rss_mb"] = samp.worker_peak_mb
    traced = statistics.median(r["warm_s"])
    plain = statistics.median(r["untraced_warm_s"])
    got["trace.overhead_frac"] = (traced - plain) / plain
    unknown = set(got) - set(layers)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")

    spans = r["spans"]
    sspans = eventlog.spark_spans(elog)
    children = {}
    for s in spans + sspans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    _self_times(spans, children)
    trace_dir = os.path.join(ROOT, ".perfbench_work", "trace")
    os.makedirs(trace_dir, exist_ok=True)
    span_file = os.path.join(trace_dir,
                             f"{a.workload}-s{a.seed}.spans.json")
    with open(span_file, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed,
                   "spans": spans + sspans}, f)
    # keep the raw event log beside the span file it was parsed into
    kept_log = span_file.replace(".spans.json", ".eventlog")
    shutil.rmtree(kept_log, ignore_errors=True)
    shutil.move(r["event_log_dir"], kept_log)
    # a layer the workload never reaches reports 0
    metrics = {k: (float(got.get(k, 0.0)), unit) for k, unit in layers.items()}
    info = {"span_file": os.path.relpath(span_file, ROOT),
            "traced_run_s": traced, "untraced_run_s": plain}
    return r, metrics, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(gen.SIZES), default="full",
                    help="input size; the smoke test uses toy")
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S
    # on SIGTERM, unwind so the finally blocks stop the child's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "geopandas_spark",
                                       "__init__.py")):
        sys.exit("perfbench: no geopandas_spark package next to perfbench/")
    e2e, layers = declared_metrics()

    work = os.path.join(ROOT, ".perfbench_work")
    man = gen.ensure_inputs(a.workload, a.seed, os.path.join(work, "inputs"),
                            a.scale)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    man["output_dir"] = os.path.join(run_dir, "output")
    man["path"] = os.path.join(run_dir, "manifest.json")
    with open(man["path"], "w") as f:
        json.dump(man, f)

    log_path = os.path.join(run_dir, "child.log")
    try:
        with open(log_path, "w") as log:
            if a.trace:
                r, metrics, info = trace_run(a, man, run_dir, deadline, log,
                                             layers)
            else:
                r, metrics, info = bench_run(a, man, run_dir, deadline, log,
                                             e2e)
    except Exception:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    summary = {"workload": a.workload, "seed": a.seed,
               "input_rows": man["rows"], "gen_s": man["gen_s"],
               "failed_frac": r["failed"] / r["attempted"],
               "problems": r["problems"][:5], **info}
    print("perfbench " + json.dumps(summary))
    print(json.dumps({
        "correct": r["failed"] == 0 and not r["problems"],
        "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
