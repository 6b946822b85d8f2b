"""Self-checks for the benchmark itself.

    python3 perfbench/selfcheck.py          # static checks, a few seconds
    python3 perfbench/selfcheck.py --run    # also runs every listed workload

Static: the generator writes the same bytes for the same seed and other
bytes for another seed; ``BENCHMARK.json`` has the expected keys and
names only workloads ``workloads.py`` defines. With ``--run``: each listed
workload, untraced and traced, prints exactly the metric names and units
of ``BENCHMARK.json``, its outputs pass their checks, and the traced run
prints one row per per-layer metric, marking layers the workload does
not reach as absent.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_determinism(workloads) -> list[str]:
    fails = []
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".selfcheck-") as tmp:
        for name, cls in workloads.items():
            a, b, c = (os.path.join(tmp, f"{name}-{k}") for k in "abc")
            cls(None).gen(7, a)
            cls(None).gen(7, b)
            cls(None).gen(8, c)
            if digest(a) != digest(b):
                fails.append(f"{name}: seed 7 gave different bytes twice")
            if digest(a) == digest(c):
                fails.append(f"{name}: seeds 7 and 8 gave the same bytes")
    return fails


def check_spec(spec: dict, workloads) -> list[str]:
    fails = []
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end",
                     "per_layer"}:
        fails.append(f"BENCHMARK.json keys: {sorted(spec)}")
    for w in spec["workloads"]:
        if w["name"] not in workloads:
            fails.append(f"workload {w['name']} is not in workloads.WORKLOADS")
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    setup = e2e.get("setup_s", {})
    if setup.get("unit") != "s" or setup.get("better") != "lower":
        fails.append("setup_s must be in s, lower is better")
    if any(m["bound"] > setup.get("bound", 0) for m in spec["end_to_end"]):
        fails.append("setup_s must carry the largest bound")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    if len(names) != len(set(names)):
        fails.append("metric names repeat")
    from observe import LAYERS

    for layer in LAYERS:
        if not any(n.startswith(layer + ".") for n in names):
            fails.append(f"no per-layer metric for layer {layer}")
    return fails


def check_runs(spec: dict) -> list[str]:
    fails = []
    for w in spec["workloads"]:
        for trace, want in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "3",
                   "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                fails.append(f"{w['name']} trace={trace}: no result (rc {p.returncode})")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != {m["name"]: m["unit"] for m in want}:
                fails.append(f"{w['name']} trace={trace}: names/units differ")
            if not res["correct"] or res["failed"]:
                fails.append(f"{w['name']} trace={trace}: outputs failed their checks")
            if trace:
                rows = [ln.split()[2] for ln in lines if ln.startswith("layer ")]
                if sorted(rows) != sorted(m["name"] for m in want):
                    fails.append(f"{w['name']}: traced table lacks a row per metric")
    return fails


def main() -> int:
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    fails = check_determinism(WORKLOADS) + check_spec(spec, WORKLOADS)
    if "--run" in sys.argv[1:]:
        fails += check_runs(spec)
    for f in fails:
        print("FAIL", f)
    print("selfcheck", "failed" if fails else "passed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
