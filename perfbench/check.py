"""Stability, tracing-overhead and count-repeat checks over several runs.

Run from the repository root:

    python3 perfbench/check.py spread --workload catalog --seeds 1-10
    python3 perfbench/check.py overhead --workload batch --seed 7

``spread`` runs the untraced benchmark once per seed and prints, per
end-to-end metric, the median and the inter-quartile range as a share of
the median, beside the bound ``BENCHMARK.json`` fixes. ``overhead`` runs
one seed untraced and twice traced; it prints each end-to-end metric's
traced-minus-untraced difference (the tracing overhead) and checks that
every count-type per-layer metric is identical in the two traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402

# per-layer metrics that are counts of work, fixed by the seed
COUNT_SUFFIXES = (".tasks", ".files.top", ".files.years")
COUNT_NAMES = ("plans.table_files", "spark.jobs_per_read",
               "spark.jobs_per_write", "spark.tasks_per_read",
               "spark.tasks_per_write", "spark.tasks_per_batch",
               "spark.jobs_per_query", "spark.tasks_per_query")


def is_count(name: str) -> bool:
    return name in COUNT_NAMES or name.endswith(COUNT_SUFFIXES)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run; returns its full record."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run failed ({' '.join(cmd)}):\n{p.stderr}")
    print(f"{p.stdout.splitlines()[-2]} wall={time.monotonic() - t0:.1f}s",
          flush=True)
    with open(os.path.join(".perfbench", "out",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    ov = sub.add_parser("overhead")
    ov.add_argument("--workload", required=True)
    ov.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    secs = bench["run_seconds"]

    if a.cmd == "spread":
        recs = [run(a.workload, s, secs, 0) for s in seeds(a.seeds)]
        print(f"{a.workload}: {len(recs)} runs, failed "
              f"{sum(r['failed'] for r in recs)}/"
              f"{sum(r['attempted'] for r in recs)}")
        for name, bound in bounds.items():
            vals = [r["end_to_end"][name][0] for r in recs]
            sp_ = spread(vals)
            flag = "ok" if sp_ < bound / 3 else (
                "WITHIN BOUND" if sp_ <= bound else "TOO WIDE")
            print(f"  {name:18s} median {median(vals):10.4g}  "
                  f"spread {sp_:6.3f}  bound {bound}  {flag}")
        return

    base = run(a.workload, a.seed, secs, 0)
    t1 = run(a.workload, a.seed, secs, 1)
    t2 = run(a.workload, a.seed, secs, 1)
    print(f"{a.workload} seed {a.seed}: tracing overhead "
          "(traced - untraced, share of untraced)")
    for name, (v, unit) in base["end_to_end"].items():
        tv = t1["end_to_end"][name][0]
        print(f"  {name:18s} {v:10.4g} -> {tv:10.4g} {unit:5s} "
              f"{(tv - v) / v:+.3f}")
    diff = [k for k, (v, _) in t1["per_layer"].items()
            if is_count(k) and v != t2["per_layer"][k][0]]
    n = sum(map(is_count, t1["per_layer"]))
    print(f"count metrics identical across two traced runs: "
          f"{n - len(diff)}/{n}" + (f"; differ: {diff}" if diff else ""))


if __name__ == "__main__":
    main()
