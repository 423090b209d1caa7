"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--workload NAME] [--seed N]

For each workload, four short runs (one measured cycle each):

  A, B  traced, same seed     -> identical per-op jobs/stages/tasks and
                                 identical byte ratios and dedup pair counts
  C     untraced, same seed   -> the same per-op job counts as A; the
                                 traced-minus-untraced median latency per op
                                 kind is printed as the tracing overhead
  D     untraced, other seed  -> different inputs, same metric names as C

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2][len("# detail "):])


def medians(detail: dict) -> dict[str, float]:
    by = {}
    for kind, s in detail["latencies"]:
        by.setdefault(kind, []).append(s)
    return {k: statistics.median(v) for k, v in by.items()}


def op_diff(x: list, y: list) -> list:
    """(position, op in x, op in y) where two op logs disagree (common prefix)."""
    return [(i, p, q) for i, (p, q) in enumerate(zip(x, y)) if p != q]


def check_workload(workload: str, seed: int) -> list[str]:
    bad = []
    a_res, a = run(workload, seed, 1)
    _, b = run(workload, seed, 1)
    c_res, c = run(workload, seed, 0)
    d_res, d = run(workload, seed + 1, 0)
    diff = op_diff(a["op_log"], b["op_log"])
    if diff:
        bad.append(f"traced runs of one seed differ in per-op jobs/stages/tasks: {diff}")
    diff = op_diff([op[:2] for op in a["op_log"]], c["op_log"])
    if diff:
        bad.append(f"traced and untraced runs differ in per-op job counts: {diff}")
    if a["deterministic"] != b["deterministic"] or a["deterministic"] != c["deterministic"]:
        bad.append(f"deterministic counters differ: {a['deterministic']} / {b['deterministic']} / {c['deterministic']}")
    if c["inputs_sha"] == d["inputs_sha"] or c["inputs_sha"] != a["inputs_sha"]:
        bad.append("inputs do not follow the seed")
    if set(c_res["metrics"]) != set(d_res["metrics"]):
        bad.append("metric names depend on the seed")
    for res in (a_res, c_res, d_res):
        if not res["correct"] or res["failed"]:
            bad.append(f"wrong answers: {res['failed']} of {res['attempted']}")
    ta, tc = medians(a), medians(c)
    for kind in sorted(ta.keys() & tc.keys()):
        print(f"{workload} {kind:14s} traced {ta[kind]:.3f}s untraced {tc[kind]:.3f}s "
              f"tracing overhead {ta[kind] - tc[kind]:+.3f}s")
    return bad


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", action="append")
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    failures = []
    for w in args.workload or names:
        bad = check_workload(w, args.seed)
        print(f"{w}: {'ok' if not bad else 'FAILED'}")
        failures += [f"{w}: {b}" for b in bad]
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
