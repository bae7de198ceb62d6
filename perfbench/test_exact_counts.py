"""The benchmark's exact counts repeat bit for bit for a fixed seed.

Runs the traced select_large_export workload twice with the same seed at
a small size. One such run traces every op class: its three set-up
imports, the warm-up small selections, kNN probes, and large selections
written out with exportLas. The test compares every exact count of every
op the two runs share, and the store counts of the two results.

Usage (from the root of a checkout):
  python3 perfbench/test_exact_counts.py      (or: python3 -m pytest perfbench)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# counts that depend only on the seed and the engine's code
EXACT = [
    "store.files", "store.row_groups", "store.blocks", "store.points_per_block",
    "import.las_scans", "las.points_read",
    "decompose.contained_ranges", "decompose.partial_ranges",
    "scan.count", "scan.files_read", "scan.blocks_read",
    "explode.points_decoded", "refine.points_returned", "refine.useful_frac",
    "knn.probe_rounds", "export.points", "export.bytes",
]
RESULT_EXACT = ["store.files", "store.row_groups", "store.blocks", "store.points_per_block",
                "import.las_scans", "las.points_read"]


def traced_run(seed, points):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "select_large_export",
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--points", str(points)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    trace = next(line.split("=", 1)[1] for line in lines if line.startswith("# trace="))
    ops = {}
    with open(trace) as f:
        for line in f:
            span = json.loads(line)
            if span["name"].startswith("op:"):
                ops[span["trace"]] = span
    os.remove(trace)
    return result, ops


def test_exact_counts_repeat():
    r1, ops1 = traced_run(seed=11, points=60000)
    r2, ops2 = traced_run(seed=11, points=60000)
    assert r1["correct"] and r2["correct"], (r1, r2)
    common = sorted(set(ops1) & set(ops2))
    names = {ops1[i]["name"] for i in common}
    assert {"op:import", "op:knn", "op:large.rect"} <= names, names
    assert any(n.startswith("op:small.") for n in names), names
    compared = 0
    for i in common:
        a, b = ops1[i], ops2[i]
        assert (a["name"], a.get("spec")) == (b["name"], b.get("spec")), i
        for k in EXACT:
            if k in a:
                assert a[k] == b[k], f"{i} {a['name']} {k}: {a[k]} != {b[k]}"
                compared += 1
    for k in RESULT_EXACT:
        assert r1["metrics"][k]["value"] == r2["metrics"][k]["value"], k
    assert compared > 0
    print(f"ok: {compared} exact counts over {len(common)} ops repeat")


if __name__ == "__main__":
    test_exact_counts_repeat()
