"""Record sets of benchmark runs and compare two of them.

    python3 perfbench/compare.py record base.jsonl --workload geo_toolbox --seeds 1-10
    python3 perfbench/compare.py compare base.jsonl change.jsonl

``record`` runs ``run.py`` once per seed and appends one JSON line per
run (the run's result, with its ``correct``, ``attempted`` and ``failed``
counts, plus its workload and seed). ``compare`` prints, for each
workload, each side's failed and attempted operations, and for each
end-to-end metric of ``BENCHMARK.json`` each side's median and
quartiles, their spread (quartile distance over the median), the share
of seed-matched pairs the second side won, and a verdict judged against
the metric's bound:

- ``worse``: the second side failed a larger share of its operations
  than the first, whatever the timings say;
- ``unresolved``: either side spreads wider than the bound, unless every
  run of the second side beats every run of the first (``improved``);
- ``improved``: the second side wins at least nine tenths of the pairs
  and its median differs by more than the first side's quartile
  distance;
- ``worse``: the second side's median is worse by more than the bound;
- ``unchanged`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def verdict(base: dict[int, float], change: dict[int, float], bound: float,
            lower_is_better: bool, more_failures: bool = False) -> dict:
    """Judge one metric. ``base`` and ``change`` map seed -> value;
    ``more_failures`` says the change side failed a larger share of its
    operations, which no timing gain makes up for."""
    sign = 1.0 if lower_is_better else -1.0
    a, b = list(base.values()), list(change.values())
    qa, qb = quartiles(a), quartiles(b)
    seeds = sorted(set(base) & set(change))
    pairs = ([(base[s], change[s]) for s in seeds] if seeds
             else list(zip(sorted(a), sorted(b))))
    won = sum(sign * (y - x) < 0 for x, y in pairs) / len(pairs)
    worse_by = sign * (qb[1] - qa[1])
    all_better = max(sign * y for y in b) < min(sign * x for x in a)
    if more_failures:
        result = "worse"
    elif spread(a) > bound or spread(b) > bound:
        result = "improved" if all_better else "unresolved"
    elif won >= 0.9 and -worse_by > qa[2] - qa[0]:
        result = "improved"
    elif worse_by > bound * abs(qa[1]):
        result = "worse"
    else:
        result = "unchanged"
    return {"base": qa, "change": qb, "base_spread": spread(a),
            "change_spread": spread(b), "won": won, "verdict": result}


def load(path: str):
    """From a recorded set: (workload -> metric -> seed -> value,
    workload -> [failed, attempted] summed over its runs)."""
    out: dict = {}
    failures: dict[str, list[int]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            run = json.loads(line)
            for name, m in run["metrics"].items():
                out.setdefault(run["workload"], {}).setdefault(
                    name, {})[run["seed"]] = m["value"]
            fa = failures.setdefault(run["workload"], [0, 0])
            fa[0] += run["failed"]
            fa[1] += run["attempted"]
    return out, failures


def compare(base_path: str, change_path: str, bench: dict) -> list[dict]:
    (base, base_fail), (change, change_fail) = load(base_path), load(change_path)
    rows = []
    for workload in sorted(set(base) & set(change)):
        fa, fb = base_fail[workload], change_fail[workload]
        more_failures = fb[0] * fa[1] > fa[0] * fb[1]
        rows.append({"workload": workload, "metric": "failed",
                     "base_failed": fa, "change_failed": fb})
        for metric in bench["end_to_end"]:
            name = metric["name"]
            a = base[workload].get(name)
            b = change[workload].get(name)
            if not a or not b or len(a) < 2 or len(b) < 2:
                continue
            row = verdict(a, b, metric["bound"], metric["better"] == "lower",
                          more_failures)
            rows.append({"workload": workload, "metric": name,
                         "unit": metric["unit"], **row})
    return rows


def record(out_path: str, workload: str, seeds: list[int], seconds: int,
           trace: int) -> None:
    for seed in seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-2000:])
            raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
        run = json.loads(lines[-1])
        if not run["correct"]:
            print(f"{workload} seed {seed}: {run['failed']} of "
                  f"{run['attempted']} operations failed", file=sys.stderr)
        run.update(workload=workload, seed=seed, trace=trace)
        with open(out_path, "a") as f:
            f.write(json.dumps(run) + "\n")
        print(workload, seed, f"{time.perf_counter() - t0:.1f}s",
              {k: round(v["value"], 3) for k, v in run["metrics"].items()},
              flush=True)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("out")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("change")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.cmd == "record":
        record(args.out, args.workload, _seeds(args.seeds),
               bench["run_seconds"], args.trace)
        return 0
    print(f"{'workload':14s} {'metric':12s} {'base q1/med/q3':>26s} "
          f"{'change q1/med/q3':>26s} {'spread':>13s} {'won':>5s}  verdict")
    for row in compare(args.base, args.change, bench):
        if row["metric"] == "failed":
            (fa, aa), (fb, ab) = row["base_failed"], row["change_failed"]
            print(f"{row['workload']:14s} {'failed':12s} {f'{fa}/{aa}':>26s} "
                  f"{f'{fb}/{ab}':>26s}")
            continue
        fmt = lambda q: "/".join(f"{v:.3g}" for v in q)  # noqa: E731
        print(f"{row['workload']:14s} {row['metric']:12s} "
              f"{fmt(row['base']):>26s} {fmt(row['change']):>26s} "
              f"{row['base_spread']:6.3f}/{row['change_spread']:.3f} "
              f"{row['won']:5.2f}  {row['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
