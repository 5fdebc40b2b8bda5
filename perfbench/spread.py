"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), against its bound.

    python3 perfbench/spread.py WORKLOAD FIRST_SEED COUNT [--json OUT]

Runs `perfbench/run.py` COUNT times in sequence with seeds FIRST_SEED,
FIRST_SEED+1, ... at the run length BENCHMARK.json sets.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    workload, first, count = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    out = sys.argv[sys.argv.index("--json") + 1] if "--json" in sys.argv else None
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in range(first, first + count):
        cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        if r.returncode != 0:
            raise SystemExit(f"seed {seed}: exit {r.returncode}")
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        runs.append({"seed": seed, **res, "lines": lines[:-1]})
        print(f"seed {seed} correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"{workload}: {count} runs, all correct: {all(r['correct'] for r in runs)}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"  {m['name']:20s} median {statistics.median(vals):.5g}  "
              f"IQR/median {(q3 - q1) / med:.3f}  bound {m['bound']}")
    if out:
        with open(out, "w") as fh:
            json.dump(runs, fh, indent=1)


if __name__ == "__main__":
    main()
