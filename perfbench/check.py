#!/usr/bin/env python3
"""Multi-run checks over perfbench/run.py, one run at a time.

    python3 perfbench/check.py spread WORKLOAD [--seeds 10] [--first-seed 1]
        N runs with distinct seeds; per end-to-end metric: median, quartiles
        and the quartile spread as a share of the median, next to its bound.
    python3 perfbench/check.py determinism WORKLOAD [--seed 1]
        Two traced runs with the same seed; reports every op whose
        exec.stages or exec.shuffle_write_records differ.
    python3 perfbench/check.py overhead WORKLOAD [--seed 1]
        One untraced and one traced run with the same seed; prints traced
        wall_s minus untraced wall_s.

Run from the root of a checkout; exits non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, ops_out: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(_bench()["run_seconds"]),
           "--trace", str(trace)]
    if ops_out:
        cmd += ["--ops-out", ops_out]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    context_line, result_line = p.stdout.strip().splitlines()[-2:]
    res = json.loads(result_line)
    if not res["correct"]:
        raise SystemExit(f"run failed {res['failed']} of {res['attempted']} ops: {' '.join(cmd)}")
    # every metric by value, with those BENCHMARK.json does not list for this mode
    res["values"] = {k: v["value"] for k, v in res["metrics"].items()}
    unlisted = json.loads(context_line)["context"]["unlisted_metrics"]
    res["values"].update({k: v["value"] for k, v in unlisted.items()})
    return res


def spread(args) -> int:
    bench = _bench()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        res = _run(args.workload, seed, 0)
        print(f"seed {seed}: "
              + " ".join(f"{k}={v:.4g}" for k, v in res["values"].items()),
              flush=True)
        for k, v in res["values"].items():
            values.setdefault(k, []).append(v)
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med
        if name not in bounds:
            note = "  (not in BENCHMARK.json)"
        elif name != "setup_s" and share > bounds[name] / 3:
            note = f"  bound {bounds[name]}  <-- over bound/3"
        else:
            note = f"  bound {bounds[name]}"
        print(f"{name:>14}: median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
              f"spread {share:.4f}{note}")
    return 0


def determinism(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"check-{os.getpid()}")
    os.makedirs(work)
    try:
        runs = []
        for i in range(2):
            out = os.path.join(work, f"ops{i}.json")
            _run(args.workload, args.seed, 1, out)
            with open(out) as f:
                runs.append(json.load(f)["ops"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    keys = ("exec.stages", "exec.shuffle_write_records")
    bad = [
        (a["op"], {k: (a.get(k), b.get(k)) for k in keys})
        for a, b in zip(*runs)
        if any(a.get(k) != b.get(k) for k in keys)
    ]
    if len(runs[0]) != len(runs[1]):
        print(f"op count differs: {len(runs[0])} vs {len(runs[1])}")
    for op, diff in bad:
        print(f"op {op} differs: {diff}")
    print(f"{len(runs[0])} ops, {len(bad)} differ")
    return 1 if bad or len(runs[0]) != len(runs[1]) else 0


def overhead(args) -> int:
    plain = _run(args.workload, args.seed, 0)["values"]["wall_s"]
    traced = _run(args.workload, args.seed, 1)["values"]["trace.wall_s"]
    print(f"{args.workload}: untraced wall_s {plain:.3f}  traced {traced:.3f}  "
          f"overhead {traced - plain:+.3f} s")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("check", choices=("spread", "determinism", "overhead"))
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    return {"spread": spread, "determinism": determinism, "overhead": overhead}[args.check](args)


if __name__ == "__main__":
    sys.exit(main())
