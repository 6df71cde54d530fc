"""Compare a parent tree and a changed tree on the benchmark.

    python3 perfbench/compare.py --parent DIR --change DIR [--workloads churn,dedup]

Runs this benchmark's own code against both engine trees (each builds under
its own ``.bench_build/``), in 10 pairs per workload that alternate which
side runs first, one seed per pair, each run as long as BENCHMARK.json's
``run_seconds``.

For every workload it prints one row per end-to-end metric of
BENCHMARK.json with each side's median and quartiles over the pairs in
which both runs were correct, and a verdict:

* ``gain``: at least 10 correct pairs, the change wins at least 9/10 of
  them (ties count for neither side), the medians differ by more than the
  parent's interquartile range, and the change failed no more ops than the
  parent;
* ``REGRESSION``: the change's median is worse than the parent's by more
  than the metric's bound;
* ``unresolved``: the parent's own spread (IQR / median) exceeds the bound,
  and not every change run beats every parent run;
* ``within bound``: none of the above.

Exit status 1 if any metric regressed or a workload has no correct pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
MIN_PAIRS = 10
WIN_SHARE = 0.9
SEED0 = 1000


def run_once(tree: Path, workload: str, seed: int) -> dict:
    env = dict(os.environ, PERFBENCH_ROOT=str(tree.resolve()))
    out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                         env=env, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{tree} {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(metric: dict, pairs, gain_allowed: bool) -> str:
    higher = metric["better"] == "higher"
    p = [a for a, _ in pairs]
    c = [b for _, b in pairs]
    pm, cm = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    iqr = q3 - q1
    better = (lambda a, b: b > a) if higher else (lambda a, b: b < a)
    wins = sum(1 for a, b in pairs if better(a, b))
    worse_share = ((pm - cm) if higher else (cm - pm)) / pm if pm else 0.0
    spread = iqr / pm if pm else 0.0
    if worse_share > metric["bound"]:
        return "REGRESSION"
    if (gain_allowed and len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs)
            and better(pm, cm) and abs(cm - pm) > iqr):
        return "gain"
    if spread > metric["bound"] and not all(better(a, b) for a in p for b in c):
        return "unresolved"
    return "within bound"


def report(workloads, parent_runs, change_runs) -> int:
    """One summary row per workload, then one detail row per metric."""
    regressed = 0
    for w in workloads:
        keys = sorted(k for k in parent_runs if k[0] == w and k in change_runs)
        p_failed = sum(parent_runs[k]["failed"] for k in keys)
        c_failed = sum(change_runs[k]["failed"] for k in keys)
        wrong = [k for k in keys if not (parent_runs[k]["correct"] and change_runs[k]["correct"])]
        keys = [k for k in keys if k not in wrong]
        if not keys:
            print(f"{w:<6} no pair with correct output on both sides; "
                  f"failed ops parent {p_failed} change {c_failed}")
            regressed += 1
            continue
        rows, summary = [], []
        for m in SPEC["end_to_end"]:
            name = m["name"]
            pairs = [(parent_runs[k]["metrics"][name]["value"], change_runs[k]["metrics"][name]["value"])
                     for k in keys]
            v = verdict(m, pairs, c_failed <= p_failed)
            regressed += v == "REGRESSION"
            p = [a for a, _ in pairs]
            c = [b for _, b in pairs]
            pq, cq = quartiles(p), quartiles(c)
            pm, cm = statistics.median(p), statistics.median(c)
            delta = (cm - pm) / pm * 100 if pm else 0.0
            summary.append(f"{name} {v} ({delta:+.1f}%)")
            rows.append(f"   {name:<20} {m['unit']:<8} parent {pm:12.4f} [{pq[0]:.4f}, {pq[1]:.4f}]"
                        f"  change {cm:12.4f} [{cq[0]:.4f}, {cq[1]:.4f}]  {delta:+7.2f}%  {v}")
        print(f"{w:<6} {len(keys)} correct pairs ({len(wrong)} left out with incorrect output), "
              f"failed ops parent {p_failed} change {c_failed}: " + "; ".join(summary))
        print("\n".join(rows))
    return 1 if regressed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    parent_runs, change_runs = {}, {}
    for w in workloads:
        for i in range(MIN_PAIRS):
            seed = SEED0 + i
            sides = [(args.parent, parent_runs), (args.change, change_runs)]
            for tree, runs in (sides if i % 2 == 0 else sides[::-1]):
                runs[(w, seed)] = run_once(tree, w, seed)
            print(f"perfbench: {w} pair {i + 1}/{MIN_PAIRS} done", file=sys.stderr, flush=True)
    return report(workloads, parent_runs, change_runs)


if __name__ == "__main__":
    sys.exit(main())
