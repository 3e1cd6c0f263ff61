"""Print every metric of every workload: the one command of the benchmark.

    python3 perfbench/report.py [--seed 1] [--seconds N]

For each workload of ``BENCHMARK.json`` it runs ``perfbench/run.py`` once
untraced and once traced with the same seed, passes their tables (with
per-query figures and the oracle check) through, and ends with a summary:
the end-to-end metrics by name and unit, ``fail_frac``, the per-layer
metrics and ``trace_overhead_frac``, the traced pass time over the untraced
one, minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """Run one benchmark run, echo its table, and return its detail record
    and result object."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, check=False)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited with {proc.returncode}")
    detail = {}
    for line in lines[:-1]:
        if line.startswith("perfbench-detail "):
            detail = json.loads(line[len("perfbench-detail "):])
        else:
            print(line)
    return detail, json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    sys.path[0] = ROOT
    from perfbench.run import LAYER_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)

    summary = []
    for w in bench["workloads"]:
        plain_detail, plain = run_once(w["name"], args.seed, args.seconds, 0)
        traced_detail, traced = run_once(w["name"], args.seed, args.seconds, 1)
        summary.append((w["name"], plain, plain_detail, traced, traced_detail))

    print("\n== summary (seed %d, %d s per run) ==" % (args.seed, args.seconds))
    ok = True
    for name, plain, plain_detail, traced, detail in summary:
        attempted = plain["attempted"] + traced["attempted"]
        failed = plain["failed"] + traced["failed"]
        ok = ok and plain["correct"] and traced["correct"]
        m, t = plain["metrics"], traced["metrics"]
        print(f"{name}:")
        for k, v in m.items():
            print(f"  {k:<24} {v['value']:>14.6g} {v['unit']}")
        wall = plain_detail["metrics"]
        for k in ("pass_s", "query_p50_s"):
            print(f"  {k:<24} {wall[k]:>14.6g} s (wall)")
        print(f"  {'fail_frac':<24} {failed / attempted:>14.6g} ratio ({failed}/{attempted})")
        overhead = t["traced_pass_s"]["value"] / wall["pass_s"] - 1.0
        print(f"  {'trace_overhead_frac':<24} {overhead:>14.6g} ratio")
        print("  per layer (traced, sums per pass, median over passes):")
        for k, v in detail["metrics"].items():
            print(f"    {k:<22} {v:>14.6g} {LAYER_UNITS[k]}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
