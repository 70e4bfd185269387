#!/usr/bin/env python3
"""Same-host A/B of the repository benchmark: a base ref against this checkout.

Clones REF into DIR (a fresh `git clone`, never a worktree), then runs
`perfbench/run.py --seed 1 --seconds N --trace 0` in both checkouts, with N
the `run_seconds` of BENCHMARK.json, PAIRS pairs per workload, alternating
which side runs first (ABBA). From each run it reads the result (the last
stdout line) and `steal_pct` from the stderr `notes` line. It only reads
perfbench's output; nothing under perfbench/ or in BENCHMARK.json is
written.

For each end-to-end metric of BENCHMARK.json it prints the two medians, the
change's delta, the base's spread (IQR / median), the metric's bound and a
verdict:

  within      the change's median is no worse than the base's by more than
              the bound (or every change run beats every base run);
  worse       the change's median is worse by more than the bound;
  unresolved  the base's own runs spread wider than the bound, so the
              medians cannot tell.

It also prints every run's end-to-end values, `correct` flag,
failed-operation count and steal, and, for batch, the per-job median times.

  python3 scripts/ab.py --ref HEAD~1 --into /tmp/ab-base --pairs 5
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
SEED = 1


def run_bench(checkout, workload, seconds):
    """One perfbench run; returns (result, notes)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    out = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not out:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab: perfbench failed in {checkout} ({workload})")
    notes = {}
    for line in p.stderr.splitlines():
        if line.startswith("{") and '"notes"' in line:
            notes = json.loads(line)["notes"]
    return json.loads(out[-1]), notes


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(base, change, bound, better):
    """within / worse / unresolved, as the simplicity-review guide reads a
    metric: a bound on the median, unresolved when the base's own IQR is
    wider than the bound."""
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    spread = (q3 - q1) / abs(mb) if mb else 0.0
    sign = 1 if better == "lower" else -1
    worse_by = sign * (mc - mb) / abs(mb) if mb else 0.0
    all_better = (max(change) < min(base) if better == "lower"
                  else min(change) > max(base))
    if spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound and not all_better:
        v = "worse"
    else:
        v = "within"
    return mb, mc, (mc - mb) / abs(mb) * 100 if mb else 0.0, spread, v


def job_ms(notes):
    return {k: float(v) for k, v in
            (kv.split("=", 1) for kv in notes.get("job_ms", "").split())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ref", required=True, help="base git ref")
    ap.add_argument("--into", required=True,
                    help="directory to clone the base into (must not exist)")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--workloads", default="dashboard,batch")
    a = ap.parse_args()

    bench = json.loads((HERE / "BENCHMARK.json").read_text())
    into = Path(a.into)
    if into.exists():
        raise SystemExit(f"ab: {into} exists; pass a fresh directory")
    subprocess.run(["git", "clone", "-q", str(HERE), str(into)], check=True)
    subprocess.run(["git", "checkout", "-q", a.ref], cwd=into, check=True)
    sides = {"base": into, "change": HERE}

    for wl in a.workloads.split(","):
        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                res, notes = run_bench(sides[side], wl,
                                       bench["run_seconds"])
                runs[side].append((res, notes))
                vals = " ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.2f}"
                    for m in bench["end_to_end"]
                    if m["name"] in res["metrics"])
                print(f"[{wl}] pair {i + 1} {side}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      f"steal={notes.get('steal_pct', '?')}% {vals}",
                      flush=True)
        print(f"\n== {wl}: {a.pairs} pairs, medians base -> change")
        for m in bench["end_to_end"]:
            name = m["name"]
            vals = {s: [r["metrics"][name]["value"] for r, _ in runs[s]
                        if name in r["metrics"]] for s in runs}
            if not vals["base"] or not vals["change"]:
                continue
            mb, mc, dpct, spread, v = verdict(vals["base"], vals["change"],
                                              m["bound"], m["better"])
            print(f"{name:18s} {mb:12.2f} -> {mc:12.2f} {m['unit']:4s} "
                  f"{dpct:+7.1f}%  base IQR/median {spread * 100:5.1f}%  "
                  f"bound {m['bound'] * 100:.0f}%  {v}")
        for s in runs:
            print(f"{s}: correct {sum(r['correct'] for r, _ in runs[s])}/"
                  f"{len(runs[s])}, failed ops "
                  f"{[r['failed'] for r, _ in runs[s]]}")
        jobs = {s: [job_ms(n) for _, n in runs[s]] for s in runs}
        names = sorted(set().union(*jobs["base"], *jobs["change"]))
        for n in names:
            b = [j[n] for j in jobs["base"] if n in j]
            c = [j[n] for j in jobs["change"] if n in j]
            if b and c:
                mb, mc = statistics.median(b), statistics.median(c)
                print(f"  job {n:22s} {mb:9.0f} -> {mc:9.0f} ms "
                      f"{(mc - mb) / mb * 100 if mb else 0:+6.1f}%")
        print(flush=True)


if __name__ == "__main__":
    main()
