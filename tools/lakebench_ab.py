#!/usr/bin/env python3
"""Interleaved A/B of the lakebench benchmark: a base checkout vs this tree.

    python3 tools/lakebench_ab.py --base-rev HEAD~1 --seeds 301-310
    python3 tools/lakebench_ab.py --base-rev main --workload cdc_cow \\
        --seeds 301,302,303 --out ab.json
    python3 tools/lakebench_ab.py --base-rev HEAD~1 --workload cdc_cow \\
        --seeds 301-310 --claim cdc_cow/primary_cpu_s

For every workload and seed it runs `python3 lakebench/run.py --trace 0`
(run length from BENCHMARK.json) once in a checkout of the base commit
and once in the working tree, alternating which side goes first, so host
drift lands on both sides alike. It then prints, per workload and
end-to-end metric of BENCHMARK.json: both medians, the relative delta
(positive = change is better), the metric's bound, the base's spread
(interquartile range over median), both sides' quartiles, how many pairs
the change won, and a verdict:

  WORSE than bound  the change's median is worse than the base's by more
                    than the metric's bound;
  better            the change won at least 9 in 10 pairs and its median
                    is better by more than the base's spread;
  unresolved        the base's spread exceeds the bound, so "no worse
                    than the bound" cannot be read off the medians —
                    unless every change run is better than every base run;
  within bound      otherwise.

Any run with `failed > 0` or without a result is listed.

The base commit is exported with `git archive` into
`.bench_build/ab-base-<sha>` (a plain copy: it leaves nothing registered
in the repository) and reused by later calls. Each checkout builds its
own classpath on its first run, so the first pair also pays two sbt
builds.

`--claim WORKLOAD/METRIC` (repeatable) names a metric the change claims
to improve. For each claim the tool prints whether it holds: the change
won at least 9 in 10 of the pairs and its median is better than the
base's by more than the base's spread (interquartile range over median),
the same rule the table's `better` verdict applies.

Exit code: 0 if no end-to-end metric's median is worse than its bound,
every run succeeded and every claim holds; 1 otherwise. Unresolved
metrics are listed but do not change the exit code. Only `lakebench/` and BENCHMARK.json
are read; the benchmark itself is not changed.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"lakebench_ab: {msg}", file=sys.stderr, flush=True)


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export_base(rev):
    sha = subprocess.run(["git", "rev-parse", "--short", rev], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(ROOT, ".bench_build", f"ab-base-{sha}")
    if not os.path.isdir(dest):
        log(f"exporting {rev} ({sha}) to {dest}")
        part = dest + ".part"  # renamed into place only once complete
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", part], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(part, dest)
    return dest


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; returns its result dict, or None without one."""
    p = subprocess.run(
        [sys.executable, os.path.join("lakebench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                break
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, end_to_end):
    """Print one table; return {metric: its row} (verdict, delta, iqr, won, n)."""
    print(f"\n== {workload}: {len(pairs)} pairs")
    print(f"{'metric':<20} {'base':>11} {'change':>11} {'delta':>8} "
          f"{'bound':>6} {'base_iqr':>9} {'base_q1..q3':>23} "
          f"{'change_q1..q3':>23} {'won':>6}  verdict")
    verdicts = {}
    for m in end_to_end:
        name, bound = m["name"], m["bound"]
        sign = 1.0 if m["better"] == "lower" else -1.0
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
               for b, c in pairs if name in b["metrics"] and name in c["metrics"]]
        if not got:
            print(f"{name:<20} {'-':>11} {'-':>11}  missing")
            verdicts[name] = {"verdict": "missing"}
            continue
        base = [b for b, _ in got]
        change = [c for _, c in got]
        mb, mc = statistics.median(base), statistics.median(change)
        # positive = the change is better, as a share of the base median
        delta = sign * (mb - mc) / mb if mb else 0.0
        q1, q3 = quartiles(base)
        c1, c3 = quartiles(change)
        iqr = (q3 - q1) / mb if mb else 0.0
        won = sum(1 for b, c in got if sign * (b - c) > 0)
        # every change run better than every base run
        separated = sign * (min(base, key=lambda x: sign * x)
                            - max(change, key=lambda x: sign * x)) > 0
        if delta < -bound:
            verdict = "WORSE than bound"
        elif won >= 0.9 * len(got) and delta > iqr:
            verdict = "better"
        elif iqr > bound and not separated:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        print(f"{name:<20} {mb:>11.4g} {mc:>11.4g} {delta:>+8.1%} "
              f"{bound:>6.2f} {iqr:>9.3f} {f'{q1:.4g}..{q3:.4g}':>23} "
              f"{f'{c1:.4g}..{c3:.4g}':>23} {won:>3}/{len(got):<2}  {verdict}")
        verdicts[name] = {"verdict": verdict, "delta": delta, "iqr": iqr,
                          "won": won, "n": len(got)}
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base-rev", required=True,
                    help="the base commit (HEAD when the change is uncommitted)")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all in BENCHMARK.json)")
    ap.add_argument("--seeds", default="301-306",
                    help="seeds, e.g. 301-310 or 301,305 (one pair each)")
    ap.add_argument("--out", help="write every run's result to this JSON file")
    ap.add_argument("--claim", action="append", default=[], metavar="WORKLOAD/METRIC",
                    help="an end-to-end metric the change claims to improve (repeatable)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    metrics = {m["name"] for m in bench["end_to_end"]}
    for c in a.claim:
        w, _, m = c.partition("/")
        if w not in workloads or m not in metrics:
            ap.error(f"--claim {c}: not WORKLOAD/METRIC of a workload being run "
                     f"({', '.join(workloads)}) and an end-to-end metric of BENCHMARK.json")
    base = export_base(a.base_rev)
    seeds = parse_seeds(a.seeds)

    runs = {w: [] for w in workloads}
    problems = []
    for w in workloads:
        for i, seed in enumerate(seeds):
            order = [("base", base), ("change", ROOT)]
            if i % 2:
                order.reverse()
            pair = {}
            for label, checkout in order:
                log(f"{w} seed {seed}: {label}")
                r = run_once(checkout, w, seed, seconds)
                pair[label] = r
                if r is None:
                    problems.append(f"{w} seed {seed} {label}: no result")
                elif r.get("failed", 0) > 0 or not r.get("correct", False):
                    problems.append(f"{w} seed {seed} {label}: failed "
                                    f"{r.get('failed')}/{r.get('attempted')}")
            runs[w].append({"seed": seed, "first": order[0][0], **pair})

    if a.out:
        with open(a.out, "w") as fh:
            json.dump(runs, fh)
    verdicts = {}
    for w in workloads:
        pairs = [(p["base"], p["change"]) for p in runs[w]
                 if p["base"] is not None and p["change"] is not None]
        for m, row in report(w, pairs, bench["end_to_end"]).items():
            verdicts[f"{w}/{m}"] = row
    worse = [k for k, row in verdicts.items()
             if row["verdict"] in ("WORSE than bound", "missing")]
    failed_claims = []
    for c in a.claim:
        row = verdicts[c]
        holds = row["verdict"] == "better"
        detail = (f"median {row['delta']:+.1%} (positive = better), won "
                  f"{row['won']}/{row['n']} pairs, base IQR/median {row['iqr']:.3f}"
                  if "delta" in row else "no values")
        print(f"claim {c}: {'holds' if holds else 'does NOT hold'}: {detail}")
        if not holds:
            failed_claims.append(c)
    for p in problems:
        print(f"PROBLEM: {p}")
    if worse:
        print("worse than bound: " + ", ".join(worse))
    unresolved = [k for k, row in verdicts.items() if row["verdict"] == "unresolved"]
    if unresolved:
        print("unresolved (base spread above bound): " + ", ".join(unresolved))
    sys.exit(1 if worse or problems or failed_claims else 0)


if __name__ == "__main__":
    main()
