"""Steadiness self-check: run each workload in two sets of ten runs (each
run with its own seed) and report, per end-to-end metric, the spread of
each set (interquartile range / median, from ``statistics.quantiles(n=4)``)
and the shift between the two sets' medians, against the bound that
``BENCHMARK.json`` fixes. Then two traced runs per workload give the
tracing overhead on ``op_cpu_s``.

    python3 perfbench/steady.py

Run from the root of a checkout. Every run's result is appended to
``.perfbench_out/steady.jsonl``. Exits non-zero if a run failed, a spread
(other than ``setup_s``'s) exceeds its bound, or a second-set median is
worse than the first by more than the bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG = os.path.join(ROOT, ".perfbench_out", "steady.jsonl")
SETS = 2
RUNS = 10  # per set
TRACE_RUNS = 2


def one_run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=180)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    res = {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
           "out": json.loads(proc.stdout.strip().splitlines()[-1])}
    with open(LOG, "a") as fh:
        fh.write(json.dumps(res) + "\n")
    return res


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share."""
    if better == "lower":
        return second / first - 1.0
    return first / second - 1.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        sets = []
        for s in range(SETS):
            runs = []
            for r in range(RUNS):
                res = one_run(spec, wl, 1000 * (s + 1) + r, 0)
                runs.append(res)
                if res["out"]["failed"]:
                    print(f"{wl} seed {res['seed']}: {res['out']['failed']} failed")
                    ok = False
            sets.append(runs)
        walls = [r["wall_s"] for runs in sets for r in runs]
        print(f"== {wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s"
              f" max {max(walls):.1f}s")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["out"]["metrics"][name]["value"] for r in runs] for runs in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            shift = worse_by(meds[0], meds[1], m["better"])
            bad = (name != "setup_s" and max(spreads) > bound) or shift > bound
            ok = ok and not bad
            print(f"  {name:14s} bound {bound:.2f}  medians "
                  + " ".join(f"{x:.4g}" for x in meds)
                  + "  spreads " + " ".join(f"{x:.3f}" for x in spreads)
                  + f"  shift {shift:+.3f}"
                  + ("  OVER" if bad else
                     "  (above a third of bound)" if max(spreads) > bound / 3
                     and name != "setup_s" else ""))
        traced = [one_run(spec, wl, 9000 + r, 1)["out"]["metrics"]
                  ["trace.op_cpu_s"]["value"] for r in range(TRACE_RUNS)]
        base = statistics.median(r["out"]["metrics"]["op_cpu_s"]["value"]
                                 for runs in sets for r in runs)
        print(f"  tracing overhead on op_cpu_s: "
              f"{statistics.median(traced) / base - 1:+.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
