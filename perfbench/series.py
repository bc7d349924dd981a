"""Run the benchmark repeatedly and append each result to a run file.

    python3 perfbench/series.py <out.jsonl> --workloads pairs,stream \
        --seeds 1-10 [--trace 0|1] [--seconds N]

One line per run, the final JSON line of perfbench/run.py plus workload,
seed and trace; perfbench/compare.py reads these files. `--seconds`
defaults to BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    seconds = args.seconds or spec["run_seconds"]
    for seed in seeds(args.seeds):
        for w in args.workloads.split(","):
            t = time.time()
            r = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                                  "--seconds", str(seconds),
                                                  "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, text=True)
            took = time.time() - t
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode} after {took:.0f} s", file=sys.stderr)
                continue
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            canary = [ln.split("'canary_ms': ")[1].rstrip("}") for ln in lines
                      if "'canary_ms': " in ln]
            res.update(workload=w, seed=seed, trace=args.trace, run_s=round(took, 1),
                       canary_ms=[float(c) for c in canary])
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
            print(f"{w} seed {seed}: {took:.0f} s, correct={res['correct']}, " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                if k in {m['name'] for m in spec['end_to_end']} or k == "trace.wall_s"),
                flush=True)


if __name__ == "__main__":
    main()
