"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are files or directories of files holding the standard
output of ``perfbench/run.py`` runs (several runs may share one file).
Runs are grouped by workload; traced runs are skipped.

The two sets must be interleaved in time: within a workload the i-th parent
run and the i-th change run (by start time) form pair i, each pair ends
before the next one starts, and the side that runs first alternates from
pair to pair. Host load drifts over minutes, so sets taken one after the
other can differ by more than a bound with the same code; a workload whose
runs are not interleaved is reported unresolved. A pair whose noise witness
disagrees (dispatch floors more than ``FLOOR_RATIO`` apart, or steal rates
more than ``STEAL_PER_S`` apart) ran in different host conditions and is
left out of the verdict.

For every workload and end-to-end metric of ``BENCHMARK.json`` one row
gives each side's median and quartiles and a verdict over the remaining
pairs: ``better``, ``worse``, ``within bound`` or ``unresolved`` (see
``perfbench.stats.verdict``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a pair is left out when one run's dispatch floor is this many times the
# other's, or when their steal rates differ by this many ticks per second
FLOOR_RATIO = 1.5
STEAL_PER_S = 5.0


def read_runs(path: str) -> dict[str, list[dict]]:
    """``{workload: [run, ...]}`` for every untraced run found under
    ``path``; a run holds its seed, start and end time, noise witness,
    metrics and failure counts."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path)
        else [path]
    )
    runs: dict[str, list[dict]] = {}
    for f in files:
        if not os.path.isfile(f):
            continue
        detail = None
        with open(f) as fh:
            for line in fh:
                if line.startswith("perfbench-detail "):
                    detail = json.loads(line[len("perfbench-detail "):])
                elif line.startswith('{"correct"') and detail is not None:
                    result = json.loads(line)
                    if not detail["trace"]:
                        passes = detail["passes"]
                        runs.setdefault(detail["workload"], []).append(
                            {
                                "seed": detail["seed"],
                                "started_at": detail.get("started_at"),
                                "ended_at": detail.get("ended_at"),
                                "floor_s": (detail["floor_start_s"] + detail["floor_end_s"]) / 2,
                                "steal_per_s": sum(p["steal_ticks"] for p in passes)
                                / sum(p["pass_s"] for p in passes),
                                "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                                "failed": result["failed"],
                                "attempted": result["attempted"],
                            }
                        )
                    detail = None
    return runs


def pair(parent: list[dict], change: list[dict]) -> tuple[list[tuple[dict, dict]], str | None]:
    """Pair the i-th parent run with the i-th change run by start time.
    Returns the pairs and, when the two sets were not interleaved, why."""
    if len(parent) != len(change):
        return [], f"{len(parent)} parent runs but {len(change)} change runs"
    if any(r["started_at"] is None for r in parent + change):
        return [], "runs carry no start time"
    pairs = list(zip(sorted(parent, key=lambda r: r["started_at"]),
                     sorted(change, key=lambda r: r["started_at"])))
    for i, (p, c) in enumerate(pairs):
        if i and min(p["started_at"], c["started_at"]) < max(
            pairs[i - 1][0]["ended_at"], pairs[i - 1][1]["ended_at"]
        ):
            return [], f"pair {i} starts before pair {i - 1} has ended"
        if i and (p["started_at"] < c["started_at"]) == (
            pairs[i - 1][0]["started_at"] < pairs[i - 1][1]["started_at"]
        ):
            return [], f"the same side runs first in pairs {i - 1} and {i}"
    return pairs, None


def same_conditions(p: dict, c: dict) -> bool:
    """Whether the noise witness of two runs agrees."""
    lo, hi = sorted((p["floor_s"], c["floor_s"]))
    return hi <= FLOOR_RATIO * lo and abs(p["steal_per_s"] - c["steal_per_s"]) <= STEAL_PER_S


def compare(parent: dict, change: dict, bench: dict) -> list[dict]:
    from perfbench.stats import UNRESOLVED, quartiles, spread, verdict

    rows = []
    for w in sorted(set(parent) & set(change)):
        pairs, not_interleaved = pair(parent[w], change[w])
        kept = [(p, c) for p, c in pairs if same_conditions(p, c)]
        for m in bench["end_to_end"]:
            name = m["name"]
            p_all = [r["metrics"][name] for r in parent[w]]
            c_all = [r["metrics"][name] for r in change[w]]
            p = [r["metrics"][name] for r, _ in kept]
            c = [r["metrics"][name] for _, r in kept]
            rows.append(
                {
                    "workload": w,
                    "metric": name,
                    "unit": m["unit"],
                    "pairs": f"{len(kept)}/{len(pairs)}",
                    "parent": quartiles(p_all),
                    "change": quartiles(c_all),
                    "parent_spread": spread(p_all),
                    "bound": m["bound"],
                    "verdict": verdict(p, c, m["bound"], m["better"] == "lower") if kept else UNRESOLVED,
                }
            )
        if not_interleaved:
            rows.append({"workload": w, "note": f"not interleaved: {not_interleaved}"})
        for label, runs in (("parent", parent[w]), ("change", change[w])):
            failed = sum(r["failed"] for r in runs)
            attempted = sum(r["attempted"] for r in runs)
            rows.append({"workload": w, "metric": f"fail_frac ({label})",
                         "value": failed / attempted if attempted else 0.0})
    return rows


def print_rows(rows: list[dict]) -> None:
    print(f"{'workload':<12} {'metric':<14} {'unit':<5} {'pairs':>5}  "
          f"{'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for r in rows:
        if "note" in r:
            print(f"{r['workload']:<12} {r['note']}")
            continue
        if "value" in r:
            print(f"{r['workload']:<12} {r['metric']:<34} {r['value']:.4f}")
            continue
        p, c = r["parent"], r["change"]
        print(f"{r['workload']:<12} {r['metric']:<14} {r['unit']:<5} {r['pairs']:>5}  "
              f"{p[1]:>9.4f} [{p[0]:.4f}, {p[2]:.4f}]   "
              f"{c[1]:>9.4f} [{c[0]:.4f}, {c[2]:.4f}]   "
              f"{r['parent_spread']:>7.3f} {r['bound']:>6.2f}  {r['verdict']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    sys.path[0] = ROOT
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    parent, change = read_runs(args.parent), read_runs(args.change)
    if not parent or not change:
        print("no untraced runs found in one of the two sets", file=sys.stderr)
        return 2
    print_rows(compare(parent, change, bench))
    return 0


if __name__ == "__main__":
    sys.exit(main())
