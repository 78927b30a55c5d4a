"""Steadiness check: two sets of runs of one commit, in alternating order.

    python3 kgbench/steady.py [--seeds 10] [--first-seed 1] [--traced]

Run from the repository root. For each seed it runs every workload once per
set, alternating which set goes first, then prints for every end-to-end
metric each set's median and quartiles, the quartile spread as a share of
the median against the metric's bound from BENCHMARK.json, and how far the
second set's median moved from the first's. ``--traced`` adds one traced
run per workload and prints the tracing overhead: the traced run's median
reference-scaled CPU time per operation minus the untraced median. Every run's result line is
appended to ``kgbench/.work/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import spread

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    log_path = os.path.join(BENCH_DIR, ".work", "steady.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    # values[workload][set][metric] -> list of per-run values
    values = {w: [{}, {}] for w in names}
    for k in range(args.seeds):
        seed = args.first_seed + k
        for s in ((0, 1), (1, 0))[k % 2]:
            for w in names:
                res = run_once(spec, w, seed, 0)
                if not res["correct"]:
                    print(f"INCORRECT {w} seed {seed}: {res}", flush=True)
                with open(log_path, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, "set": s,
                                         **res}) + "\n")
                for m, v in res["metrics"].items():
                    values[w][s].setdefault(m, []).append(v["value"])
                print(f"{w} seed={seed} set={s} " + " ".join(
                    f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()
                ), flush=True)

    print()
    print(f"{'workload/metric':34s} {'set':>3s} {'median':>10s} {'q1':>10s} "
          f"{'q3':>10s} {'spread':>7s} {'bound':>6s} {'shift':>7s}")
    for w in names:
        for e in spec["end_to_end"]:
            m, bound = e["name"], e["bound"]
            meds = []
            for s in (0, 1):
                med, q1, q3, sp = spread(values[w][s][m])
                meds.append(med)
                shift = ""
                if s == 1:
                    worse = (meds[1] - meds[0]) / meds[0]
                    if e["better"] == "higher":
                        worse = -worse
                    shift = f"{worse:+.3f}"
                flag = "" if sp <= bound / 3 or m == "setup_s" else "  <-- spread"
                print(f"{w + '/' + m:34s} {s:3d} {med:10.4g} {q1:10.4g} "
                      f"{q3:10.4g} {sp:7.3f} {bound:6.2f} {shift:>7s}{flag}")

    if args.traced:
        print()
        for w in names:
            res = run_once(spec, w, args.first_seed, 1)
            traced = res["metrics"]["traced.cpu_ref_p50_s"]["value"]
            untraced = statistics.median(
                v for s in values[w] for v in s["cpu_ref_p50_s"]
            )
            print(f"{w}: traced cpu_ref_p50_s {traced:.3f} s, untraced median "
                  f"{untraced:.3f} s, tracing overhead {traced - untraced:+.3f} s "
                  f"(traced wall latency {res['metrics']['traced.latency_p50_s']['value']:.3f} s)")
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": args.first_seed,
                                     "trace": 1, **res}) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
