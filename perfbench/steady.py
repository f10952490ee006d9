"""Steadiness report: run each workload several times with different seeds
and print, per metric, the median, the quartiles, the sample count and
whether the spread (interquartile range ÷ median) fits the metric's bound
in BENCHMARK.json (and a third of it, the margin the benchmark aims for).

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--trace 0|1]
                                [--workloads keyed_writes,curation]

Every end-to-end and per-layer metric a run prints is reported by name
with its unit; the probes (`probe.cpu`, `probe.cmt8`, in ms, before and
after each workload) are diagnostics for spotting a contended machine.
Raw run lines are kept in .bench_build/steady/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", default="0", choices=("0", "1"))
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = p.parse_args()
    metrics = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    bounds = {m["name"]: m.get("bound") for m in metrics}
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    log = open(os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + f"-trace{a.trace}.jsonl"), "w")
    ok = True
    def probe(when):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--probe"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = [l for l in r.stdout.splitlines() if l.startswith('{"probe"')]
        return f"probe {when}: " + (", ".join(f"{k} {v:.0f}" for k, v in json.loads(line[0])["probe"].items())
                                    if line else "failed")

    for w in a.workloads.split(","):
        results, details = [], []
        probes = [probe("before")]
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", a.trace], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: run failed (exit {r.returncode})")
                ok = False
                continue
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            log.write(json.dumps({"workload": w, "seed": seed, "wall_s": time.time() - t0,
                                  "detail": detail, "result": result}) + "\n")
            log.flush()
            results.append(result)
            details.append(detail["detail"]["metrics"])
            if not result["correct"]:
                ok = False
            print(f"{w} seed {seed}: {time.time() - t0:.0f} s, correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}", flush=True)
        probes.append(probe("after"))
        if not results:
            continue
        print(f"\n== {w}: {len(results)} runs, {sum(r['attempted'] for r in results)} operations "
              f"attempted, {sum(r['failed'] for r in results)} failed")
        print("; ".join(probes))
        print(f"{'metric':44s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'n':>5s} {'spread':>7s} {'bound':>6s}  fits")
        for name in bounds:
            xs = [r["metrics"][name]["value"] for r in results if r["metrics"].get(name, {}).get("value") is not None]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds[name]
            fits = "-" if b is None else ("yes" if spread <= b / 3 else "within bound" if spread <= b else "NO")
            if b is not None and spread > b and name != "setup_s":
                ok = False
            print(f"{name:44s} {results[0]['metrics'][name]['unit']:6s} {med:12.4g} {q1:12.4g} {q3:12.4g} "
                  f"{len(xs):5d} {spread:7.3f} {'' if b is None else b:>6}  {fits}")
        print("-- every metric the runs printed (median over runs; n = samples per run, median)")
        for name in sorted({k for d in details for k in d}):
            xs = [d[name]["value"] for d in details if name in d and d[name]["value"] is not None]
            ns = [d[name]["n"] for d in details if name in d]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            unit = next(d[name]["unit"] for d in details if name in d)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{name:44s} {unit:6s} {med:12.4g} {q1:12.4g} {q3:12.4g} {statistics.median(ns):5g} {spread:7.3f}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
