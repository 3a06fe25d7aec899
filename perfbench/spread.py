"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (interquartile range over median, quartiles as Python's
statistics.quantiles(values, n=4) gives them) against its bound.

    python3 perfbench/spread.py --workload iot-steady --seeds 1-10 --seconds 20

A metric passes when its spread is below a third of its bound. The values
are also written to .bench_run/spread-<workload>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(arg):
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for seed in a.seeds:
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}")
        out = json.loads(r.stdout.strip().splitlines()[-1])
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(seed, {k: round(v["value"], 2) for k, v in out["metrics"].items()}, flush=True)
    ok = True
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        passed = spread < m["bound"] / 3
        ok &= passed
        print(f"{m['name']:26s} median {med:12.2f} spread {spread:.3f} "
              f"bound {m['bound']:.2f} {'ok' if passed else 'WIDE'}")
    (ROOT / ".bench_run").mkdir(exist_ok=True)
    (ROOT / ".bench_run" / f"spread-{a.workload}.json").write_text(json.dumps(values))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
