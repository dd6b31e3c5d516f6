"""Smoke test of the benchmark itself, at toy input size.

    python3 perfbench/smoke.py [workload ...]

For each workload (all by default), with a fixed seed:

1. checks the generator's oracle against a brute-force recomputation
   (all-pairs Jaccard for doc_dedup; for geo_etl, shoelace sums of the
   overlay features and the valid/planted partition of the footprints);
2. runs ``run.py --trace 0`` and ``--trace 1`` and requires a correct
   result with no failed execution, and exactly the metric names and
   units BENCHMARK.json declares, each a finite number.

Exits non-zero on the first failure. Takes a few minutes.
"""

import itertools
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402

SEED = 7
CACHE = os.path.join(ROOT, ".perfbench_work", "inputs")


def _rings(path, col="geom"):
    out = []
    for b in pq.read_table(path, columns=[col]).column(col).to_pylist():
        n = int.from_bytes(b[9:13], "little")
        out.append(np.frombuffer(b[13:13 + 16 * n], "<f8").reshape(n, 2))
    return out


def brute_force_oracle(workload, man):
    """Recompute the oracle the slow way; returns a list of problems."""
    o, inp = man["oracle"], man["inputs"]
    if workload == "doc_dedup":
        t = pq.read_table(inp["docs"])
        ids, docs = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        near = [(ids[i], ids[j]) for i, j in
                itertools.combinations(range(len(docs)), 2)
                if gen.jaccard(docs[i], docs[j]) >= 0.8]
        removed = sorted(max(p) for p in near)
        return [] if removed == o["removed"] else ["near-duplicate set"]
    if workload == "geo_etl":
        bad = []
        total = sum(gen.shoelace(r) for r in _rings(inp["features"]))
        got = sum(o["class_area"].values())
        if abs(got - total) > 1e-9 * total:
            bad.append("class areas")
        rings = _rings(inp["footprints"])
        mixed = [i for i in range(len(rings))
                 if (str(i) in o["areas"]) == (i in set(o["invalid"]))]
        if mixed:
            bad.append(f"{len(mixed)} rows neither valid nor planted")
        return bad
    return [f"no brute-force oracle for {workload}"]


def run_bench(workload, trace, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(SEED), "--seconds", str(seconds),
           "--trace", str(trace), "--scale", "toy"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_result(res, declared):
    bad = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0:
        bad.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    got = res.get("metrics", {})
    if set(got) != set(declared):
        bad.append(f"undeclared {sorted(set(got) - set(declared))}, "
                   f"missing {sorted(set(declared) - set(got))}")
    for name, m in got.items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            bad.append(f"{name} = {v!r}")
        if name in declared and m.get("unit") != declared[name]:
            bad.append(f"{name} unit {m.get('unit')!r}, "
                       f"declared {declared[name]!r}")
    return bad


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [{m["name"]: m["unit"] for m in spec[key]}
                for key in ("end_to_end", "per_layer")]
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(gen.WORKLOADS):
        sys.exit(f"BENCHMARK.json workloads {names} != {gen.WORKLOADS}")
    failed = False
    for workload in sys.argv[1:] or names:
        man = gen.ensure_inputs(workload, SEED, CACHE, "toy")
        problems = ["oracle: " + p for p in brute_force_oracle(workload, man)]
        for trace in (0, 1):
            res = run_bench(workload, trace, seconds=2)
            problems += [f"trace {trace}: {p}"
                         for p in check_result(res, declared[trace])]
        print(f"{workload}: {'ok' if not problems else problems}")
        failed |= bool(problems)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
