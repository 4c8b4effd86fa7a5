#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's spread.

Run from the repository root:

    python3 perfbench/steady.py --workload dashboard --seeds 1-10 [--trace 0]
        [--out perfbench/baseline.json]

Each seed is one `perfbench/run.py` run. For every metric the command
prints the median, the quartiles and the spread: the distance between
the first and third quartile as a share of the median, the figure each
end-to-end bound in BENCHMARK.json is checked against. With --out, the
figures are merged into that JSON file under the workload's name.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import run


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    values, units, failed = {}, {}, 0
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--trace", str(a.trace)]
        if a.seconds is not None:
            cmd += ["--seconds", str(a.seconds)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        failed += res["failed"] + (0 if res["correct"] else 1)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
        print(f"seed {seed}: " + ", ".join(f"{k}={m['value']:.4g}"
                                           for k, m in res["metrics"].items()),
              file=sys.stderr, flush=True)
    summary = {}
    for k, vs in values.items():
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        med = statistics.median(vs)
        sp = run.spread(vs) if len(vs) > 1 and med else None
        summary[k] = {"unit": units[k], "median": med, "q1": q[0], "q3": q[2],
                      "spread": sp, "n": len(vs), "values": vs}
        print(f"{a.workload:10} {k:30} median {med:12.5g} {units[k]:12} "
              f"q1 {q[0]:10.5g} q3 {q[2]:10.5g} spread "
              f"{'n/a' if sp is None else f'{sp:.4f}'}")
    print(f"{a.workload}: {failed} failed or incorrect runs/queries")
    if a.out:
        data = json.load(open(a.out)) if os.path.exists(a.out) else {}
        data.setdefault(a.workload, {})[f"seeds {a.seeds}"] = summary
        with open(a.out, "w") as f:
            json.dump(data, f, indent=1)
            f.write("\n")
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
