"""Measures run-to-run spread of the end-to-end metrics:

    python3 perfbench/spread.py --workload retrieve --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed (untraced), one run after another, and
prints for each metric the median of its values and the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of
that median, beside the bound BENCHMARK.json fixes for it.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    a = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    secs = a.seconds or bench["run_seconds"]
    values = {}
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                              "--workload", a.workload, "--seed", str(s),
                              "--seconds", str(secs), "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            res = json.loads(last)
        except ValueError:
            print(f"seed {s}: exit {out.returncode}, no result\n{out.stderr[-2000:]}")
            return 1
        print(f"seed {s}: {time.monotonic() - t0:.0f} s exit {out.returncode} correct {res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:14s} median {med:12.5g} iqr/median {(q3 - q1) / med:.4f} "
              f"bound {bounds.get(k)} n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
