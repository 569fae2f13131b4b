#!/usr/bin/env python3
"""Steadiness tool: run a workload N times and compare each metric's spread
with its bound.

    python3 perfbench/steady.py --workload serve --runs 10
    python3 perfbench/steady.py --workload ingest --runs 10 \
        --checkout ../parent --checkout .

Each run uses another seed (seed-base, seed-base + 1, ...). With one
checkout it prints, per metric, the median, the quartiles (as
statistics.quantiles(values, n=4) gives them), the spread (q3 - q1) / median
and the metric's bound from BENCHMARK.json: a spread under a third of the
bound is "steady", under the bound "within", above it "WIDE". With two
checkouts the runs alternate between them (the first checkout runs first in
even pairs, second in odd ones) and it also prints how far the second
checkout's median lies from the first's, against the bound. Every run's
result line is kept in perfbench/results/ for later comparison.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, bench, workload, seed, seconds, trace):
    cmd = list(bench["command"]) + ["--workload", workload, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    details = [l[len("detail "):] for l in lines if l.startswith("detail ")]
    result["detail"] = json.loads(details[-1]) if details else {}
    result["seed"] = seed
    result["check_failures"] = [l for l in proc.stderr.splitlines() if "check failed" in l]
    return result


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def worse_by(better, base, new):
    """How much worse `new` is than `base`, as a share of `base`."""
    return (new - base) / base if better == "lower" else (base - new) / base


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--checkout", action="append", default=None,
                    help="checkout root to run in; give twice to compare two")
    args = ap.parse_args()
    checkouts = [os.path.abspath(c) for c in (args.checkout or [os.path.dirname(HERE)])]
    if len(checkouts) > 2:
        raise SystemExit("at most two checkouts")
    benches = [load_bench(c) for c in checkouts]
    seconds = args.seconds or benches[0]["run_seconds"]
    kind = "per_layer" if args.trace else "end_to_end"
    specs = {m["name"]: m for m in benches[0][kind]}

    results = [[] for _ in checkouts]
    for i in range(args.runs):
        order = range(len(checkouts)) if i % 2 == 0 else reversed(range(len(checkouts)))
        for c in order:
            seed = args.seed_base + i
            r = run_once(checkouts[c], benches[c], args.workload, seed, seconds, args.trace)
            results[c].append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"[{c}] seed {seed} wall {r['wall_s']:.0f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
            for line in r["check_failures"]:
                print(f"    {line}", flush=True)

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"steady-{args.workload}-t{args.trace}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump({"checkouts": checkouts, "seconds": seconds, "results": results}, f, indent=1)

    print(f"\n{args.workload}: {args.runs} runs per checkout, {seconds} s each ({out})")
    for c, rs in enumerate(results):
        shares = {r["failed"] / r["attempted"] for r in rs}
        print(f"[{c}] correct in {sum(r['correct'] for r in rs)}/{len(rs)} runs; "
              f"failed share(s) {sorted(shares)}; wall median {statistics.median(r['wall_s'] for r in rs):.0f} s")
    print(f"{'metric':36s} {'ck':>2s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}  verdict")
    for name in specs:
        bound = specs[name].get("bound")
        meds = []
        for c, rs in enumerate(results):
            vals = [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]
            if not vals:
                continue
            med, q1, q3, spread = summarize(vals)
            meds.append(med)
            verdict = ""
            if bound is not None and name != "setup_s":
                verdict = "steady" if spread < bound / 3 else "within" if spread < bound else "WIDE"
            print(f"{name:36s} {c:2d} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} "
                  f"{bound if bound is not None else '-':>6}  {verdict}")
        if len(meds) == 2 and bound is not None:
            w = worse_by(specs[name]["better"], meds[0], meds[1])
            print(f"{'':36s} second vs first: {w:+.3f} worse  ({'ok' if w <= bound else 'OVER BOUND'})")
    names = sorted({k for rs in results for r in rs for k in r.get("detail", {})})
    if names:
        print("\nreference figures (median over runs; no bound):")
    for name in names:
        for c, rs in enumerate(results):
            vals = [r["detail"][name]["value"] for r in rs if name in r.get("detail", {})]
            if vals:
                med, q1, q3, spread = summarize(vals)
                print(f"{name:36s} {c:2d} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f}")


if __name__ == "__main__":
    main()
