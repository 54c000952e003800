#!/usr/bin/env python3
"""Steadiness runs: the benchmark N times per workload, each with its own seed.

    python3 graftbench/steady.py --workloads market_cold,tick_stream \
        --seeds 1-10 [--seconds S] [--trace 0|1] [--out FILE]
    python3 graftbench/steady.py --compare FIRST.json SECOND.json

Run from the root of a graft checkout. For every end-to-end metric it
reports the median, the quartiles (statistics.quantiles(values, n=4)), the
interquartile spread as a share of the median and the min-max spread, and
checks the interquartile spread against the metric's bound in
BENCHMARK.json (setup_s included). It also keeps each run's host spin-loop
times (a diagnostic, not gated) and, with --out, writes everything as JSON.
--compare reads two such files and checks, per workload and metric, that
the second set's median is not worse than the first's by more than the
bound.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else None,
            "min": min(values), "max": max(values),
            "range_over_median": (max(values) - min(values)) / med if med else None,
            "values": values}


def load_spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def compare(first, second):
    """True if no median of `second` is worse than `first`'s by more than
    the metric's bound."""
    spec = {m["name"]: m for m in load_spec()["end_to_end"]}
    ok = True
    for w, a in first["workloads"].items():
        b = second["workloads"].get(w)
        if b is None:
            print(f"{w}: missing from the second set")
            ok = False
            continue
        for n, m in spec.items():
            m1, m2 = a["summary"][n]["median"], b["summary"][n]["median"]
            change = (m2 - m1) / m1
            worse = change if m["better"] == "lower" else -change
            within = worse <= m["bound"]
            ok &= within
            print(f"{w} {n}: median {m1:.4g} -> {m2:.4g} ({change:+.3f}), "
                  f"bound {m['bound']}: {'ok' if within else 'WORSE'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.compare:
        sets = []
        for path in a.compare:
            with open(path) as f:
                sets.append(json.load(f))
        sys.exit(0 if compare(*sets) else 1)
    if not a.workloads:
        ap.error("--workloads is required")
    spec = load_spec()
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"seconds": seconds, "trace": a.trace, "workloads": {}}
    ok = True
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(seconds),
                                "--trace", str(a.trace)], capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            spin = re.findall(r"spin loop ([\d.]+) s at start, ([\d.]+) s", p.stdout)
            steal = re.findall(r"host steal ([\d.]+)%", p.stdout)
            runs.append({"seed": s, "wall_s": wall, "result": res,
                         "spin_s": [float(x) for x in spin[0]] if spin else None,
                         "steal_pct": float(steal[0]) if steal else None,
                         "info": [l for l in lines if l.startswith("info:")]})
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{w} seed {s}: {wall:.0f} s wall, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
            ok &= res["correct"]
        if not runs:
            continue
        names = runs[0]["result"]["metrics"].keys()
        summary = {n: summarize([r["result"]["metrics"][n]["value"] for r in runs]) for n in names}
        for n, s in summary.items():
            b = bounds.get(n)
            gated = a.trace == 0 and b is not None
            s["bound"] = b
            s["within_bound"] = (s["iqr_over_median"] <= b) if gated else None
            s["within_third_of_bound"] = (s["iqr_over_median"] <= b / 3) if gated else None
            ok &= s["within_bound"] is not False
            if a.trace == 0:
                print(f"  {w} {n}: median {s['median']:.4g}, IQR/median "
                      f"{s['iqr_over_median']:.3f}, range/median {s['range_over_median']:.3f}"
                      + (f", bound {b}" if b is not None else ""))
        print(f"  {w}: run wall median {statistics.median(r['wall_s'] for r in runs):.1f} s")
        report["workloads"][w] = {
            "runs": runs, "summary": summary,
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "spin_start_s": summarize([r["spin_s"][0] for r in runs if r["spin_s"]]),
            "spin_end_s": summarize([r["spin_s"][1] for r in runs if r["spin_s"]])}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
