"""Spark event-log parser for the traced run.

Reads the uncompressed JSON-lines event log Spark wrote
(``spark.eventLog.compress=false``), joins its jobs to the benchmark's
spans through the ``perfbench.span`` job property, and derives the
``spark.*``, ``st.*`` and ``io.*`` per-layer metrics per execution. It
also returns the Spark job and stage spans, with their parents, for the
span file.
"""

import glob
import json
import os
import statistics

PY_TIME = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"
MB = 1 << 20


def read_events(log_dir):
    """Every event of the one application logged under ``log_dir``, from
    its rolling event-log files ``<app dir>/events_<n>_<app>`` in order
    of ``n``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _is_python_node(name):
    return ("Python" in name or "Pandas" in name or "InArrow" in name
            or "GroupsInArrow" in name)


class Log:
    """Jobs, stages, tasks and SQL plans of one application."""

    def __init__(self, events):
        self.jobs = {}        # job id -> dict
        self.stages = {}      # stage id -> dict
        self.plans = {}       # sql execution id -> final plan tree
        self.sql_desc = {}    # sql execution id -> description
        self.metric_info = {}  # accumulator id -> (exec id, node, name, type)
        self.acc = {}         # accumulator id -> summed task + driver update
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            handler = getattr(self, "_on_" + kind, None)
            if handler:
                handler(e)
        # a stage listed by several jobs ran in the first one only
        self.stage_owner = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stages"]:
                self.stage_owner.setdefault(sid, jid)
        for eid, plan in self.plans.items():
            for node in _walk(plan):
                for m in node.get("metrics", ()):
                    self.metric_info[m["accumulatorId"]] = (
                        eid, id(node), m["name"], m.get("metricType"))

    # --- event handlers -------------------------------------------------
    def _on_SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        stages = sorted(e.get("Stage Infos", ()), key=lambda s: s["Stage ID"])
        self.jobs[e["Job ID"]] = {
            "id": e["Job ID"], "start": e["Submission Time"] / 1e3,
            "end": None, "stages": list(e.get("Stage IDs", ())),
            "span": props.get("perfbench.span"),
            "sql": props.get("spark.sql.execution.id"),
            # the result stage carries the action's call site
            "name": props.get("callSite.short") or
                    (stages[-1]["Stage Name"] if stages else "")}

    def _on_SparkListenerJobEnd(self, e):
        if e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3

    def _on_SparkListenerStageCompleted(self, e):
        info = e["Stage Info"]
        st = self.stages.setdefault(info["Stage ID"], {"tasks": []})
        st.update(start=info.get("Submission Time", 0) / 1e3,
                  end=info.get("Completion Time", 0) / 1e3)

    def _on_SparkListenerTaskEnd(self, e):
        tm = e.get("Task Metrics") or {}
        ti = e["Task Info"]
        sw = tm.get("Shuffle Write Metrics") or {}
        st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
        st["tasks"].append({
            "run_s": tm.get("Executor Run Time", 0) / 1e3,
            "gc_s": tm.get("JVM GC Time", 0) / 1e3,
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "spill_disk": tm.get("Disk Bytes Spilled", 0),
            "read": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
            "wall_s": (ti["Finish Time"] - ti["Launch Time"]) / 1e3})
        for a in ti.get("Accumulables", ()):
            self._add_acc(a.get("ID"), a.get("Update"))

    def _on_SparkListenerSQLExecutionStart(self, e):
        self.plans[e["executionId"]] = e["sparkPlanInfo"]
        self.sql_desc[e["executionId"]] = e.get("description", "")

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self.plans[e["executionId"]] = e["sparkPlanInfo"]

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e.get("accumUpdates", ()):
            self._add_acc(acc_id, value)

    def _add_acc(self, acc_id, update):
        try:
            self.acc[acc_id] = self.acc.get(acc_id, 0) + int(update)
        except (TypeError, ValueError):
            pass

    # --- queries ----------------------------------------------------------
    def sql_metric(self, exec_ids, name, node_filter=None):
        """Sum of SQL metric ``name`` over the plans of ``exec_ids``, in
        seconds for timings and bytes for sizes."""
        total = 0.0
        for acc_id, (eid, node_id, mname, mtype) in self.metric_info.items():
            if mname != name or eid not in exec_ids:
                continue
            if node_filter is not None and node_id not in node_filter:
                continue
            v = self.acc.get(acc_id, 0)
            if mtype == "timing":
                v /= 1e3
            elif mtype == "nsTiming":
                v /= 1e9
            total += v
        return total

    def python_nodes(self, exec_ids):
        return [n for eid in exec_ids if eid in self.plans
                for n in _walk(self.plans[eid]) if _is_python_node(n["nodeName"])]


def _span_of_execution(spans):
    """span id -> id of the enclosing top-level (execution) span."""
    by_id = {s["id"]: s for s in spans}
    top = {}
    for s in spans:
        cur = s
        while cur["parent"] is not None:
            cur = by_id[cur["parent"]]
        top[s["id"]] = cur["id"]
    return top


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(log, spans, cores):
    """Per-layer metrics for one traced run.

    Runtime and UDF-boundary metrics are medians over the warm
    executions; plan-time metrics come from the first execution."""
    top = _span_of_execution(spans)
    jobs_by_top = {}
    for j in log.jobs.values():
        if j["span"] is not None and int(j["span"]) in top:
            jobs_by_top.setdefault(top[int(j["span"])], []).append(j)

    per_exec = []
    for s in spans:
        if s["parent"] is not None or s["name"] != "warm":
            continue
        per_exec.append(_execution_metrics(log, s, jobs_by_top.get(s["id"], []),
                                           spans, top, cores))
    out = {k: _median([m[k] for m in per_exec]) for k in
           (per_exec[0] if per_exec else {})}

    first = next((s for s in spans if s["name"] == "first"), None)
    plan_jobs = 0
    for op in ("overlay", "dissolve"):
        plan = [s for s in spans if s["name"] == op and first is not None
                and top[s["id"]] == first["id"]]
        out[f"{op}.plan_s"] = sum(s["end"] - s["start"] for s in plan)
        ids = {str(s["id"]) for s in plan}
        plan_jobs += sum(1 for j in log.jobs.values() if j["span"] in ids)
    out["operators.plan_jobs"] = plan_jobs

    # each round of connected_components ends with one count() action
    cc = {str(s["id"]) for s in spans if s["name"] == "probe.cc"}
    out["dedup.cc_rounds"] = len({
        j["sql"] for j in log.jobs.values()
        if j["span"] in cc and j["sql"] is not None and
        log.sql_desc.get(int(j["sql"]), "").startswith("count at")})
    return out


def _execution_metrics(log, span, jobs, spans, top, cores):
    wall = span["end"] - span["start"]
    stage_ids = {sid for j in jobs for sid in j["stages"]
                 if log.stage_owner.get(sid) == j["id"]
                 and sid in log.stages and log.stages[sid]["tasks"]}
    tasks = [t for sid in stage_ids for t in log.stages[sid]["tasks"]]
    task_s = sum(t["run_s"] for t in tasks)
    exec_ids = {int(j["sql"]) for j in jobs if j["sql"] is not None}
    skew = 1.0
    if stage_ids:
        longest = max(stage_ids, key=lambda s: log.stages[s]["end"] -
                      log.stages[s]["start"])
        durs = [t["wall_s"] for t in log.stages[longest]["tasks"]]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0

    # the writer is the top-most Python node of each plan run inside the
    # io.to_parquet span
    write_ids = {str(s["id"]) for s in spans
                 if s["name"] == "io.to_parquet" and top[s["id"]] == span["id"]}
    write_exec = {int(j["sql"]) for j in jobs
                  if j["span"] in write_ids and j["sql"] is not None}
    writers = set()
    for eid in write_exec:
        nodes = [n for n in _walk(log.plans.get(eid, {"children": []}))
                 if _is_python_node(n.get("nodeName", ""))]
        if nodes:
            writers.add(id(nodes[0]))
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": len(tasks),
        "spark.task_s": task_s,
        "spark.core_busy_frac": task_s / (cores * wall) if wall > 0 else 0.0,
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
        "spark.spill_disk_mb": sum(t["spill_disk"] for t in tasks) / MB,
        "spark.stage_skew": skew,
        "st.python_run_s": log.sql_metric(exec_ids, PY_TIME),
        "st.python_start_s": log.sql_metric(exec_ids, PY_START),
        "st.to_python_mb": log.sql_metric(exec_ids, PY_SENT) / MB,
        "st.from_python_mb": log.sql_metric(exec_ids, PY_RECV) / MB,
        "st.python_nodes": len(log.python_nodes(exec_ids)),
        "io.scan_s": log.sql_metric(exec_ids, SCAN_TIME),
        "io.read_mb": sum(t["read"] for t in tasks) / MB,
        "io.write_s": log.sql_metric(write_exec, PY_TIME, writers),
    }


def spark_spans(log):
    """Spark job and stage spans, parented to the benchmark's spans."""
    out = []
    for j in sorted(log.jobs.values(), key=lambda j: j["id"]):
        out.append({"id": f"job-{j['id']}", "name": j["name"],
                    "parent": None if j["span"] is None else int(j["span"]),
                    "start": j["start"], "end": j["end"]})
        for sid in j["stages"]:
            st = log.stages.get(sid)
            if st and st["tasks"]:
                out.append({"id": f"stage-{sid}", "name": f"stage {sid}",
                            "parent": f"job-{j['id']}",
                            "start": st["start"], "end": st["end"],
                            "tasks": len(st["tasks"])})
    return out
