#!/usr/bin/env python3
"""Paired, order-alternating A/B of two checkouts on one benchmark workload.

    python3 tools/ab_pairs.py --parent <checkout> --change <checkout> \\
        --workload <name> --pairs N [--seed-base S] [--seconds 8] [--out f.json] \\
        [--detail save_s,load_s,compact_s]

Pair i runs both checkouts at seed S+i: the parent first on even pairs,
the change first on odd ones, because the side that runs first can win
by more than a code effect does. Each run is

    python3 perfbench/run.py --workload W --seed S+i --seconds X --trace 0

started in its checkout, and its last stdout line is parsed as the
result. A run that fails or prints no parsable line is recorded with its
exit code, never dropped.

For each end-to-end metric of BENCHMARK.json (its `better` and `bound`)
the report prints both medians, the parent's Q3-Q1, the change in %, the
change's wins (ties count for neither) split by which side ran first,
and a verdict:

  worse past bound  the change's median is worse than the parent's by
                    more than the bound;
  unresolved        the spread of either side (Q3-Q1 over its median)
                    is wider than the bound, unless every change run
                    reads better than every parent run;
  flat              neither.

`--detail a,b` also reports the named detail metrics, read from each
run's `perfbench: detail <name> = <value> <unit>` stderr lines (a name
matches a detail called exactly that or ending in `.<name>`, so
`save_s` finds `ann.IVFModel.save_s`): both medians, the parent's
Q3-Q1, the change in % and the change's wins split by run order, where
a win is a lower value (a higher one for a rate, unit `1/s`). Details
are not end-to-end metrics, so they get no verdict.

The JSON report (every run's seed, order, exit code, result and the
summary) is written under .bench_build/ of the current directory, which
is git-ignored; so are the records perfbench leaves in each checkout's
own .bench_build/. `--out x.json` and `--out .bench_build/x.json` both
name .bench_build/x.json; a name that leaves .bench_build/ is rejected.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

OUT_DIR = ".bench_build"
DETAIL = re.compile(r"perfbench: detail (\S+) = (\S+) (\S+)$")


def quartiles(xs):
    """(Q1, median, Q3), inclusive method; a single value is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0"]
    env = dict(os.environ)
    # every checkout builds into its own .bench_build: a shared build
    # dir would recompile on each switch of side
    env.pop("CARGO_TARGET_DIR", None)
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    rec = {"exit": p.returncode, "wall_s": round(time.time() - t0, 1), "result": None,
           "detail": {}}
    for ln in p.stderr.splitlines():
        m = DETAIL.match(ln.strip())
        if m:
            try:
                rec["detail"][m.group(1)] = {"value": float(m.group(2)), "unit": m.group(3)}
            except ValueError:
                pass
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        rec["result"] = json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["stderr_tail"] = p.stderr.splitlines()[-5:]
    return rec


def metric(rec, name):
    r = rec["result"]
    if rec["exit"] != 0 or not isinstance(r, dict):
        return None
    v = r.get("metrics", {}).get(name)
    return v.get("value") if isinstance(v, dict) else v


def detail(rec, name):
    """(value, unit) of the run's detail metric `name` or `*.name`."""
    if rec["exit"] != 0:
        return None, None
    for k, v in rec.get("detail", {}).items():
        if k == name or k.endswith("." + name):
            return v["value"], v["unit"]
    return None, None


def compare(runs, get, higher):
    """Medians, quartile spreads, change % and order-split wins of one
    metric, `get(run, side)` reading its value (None when absent)."""
    par = [get(r, "parent") for r in runs]
    chg = [get(r, "change") for r in runs]
    pv = [v for v in par if v is not None]
    cv = [v for v in chg if v is not None]
    if not pv or not cv:
        return None, pv, cv
    pq1, pmed, pq3 = quartiles(pv)
    cq1, cmed, cq3 = quartiles(cv)
    sign = 1.0 if higher else -1.0
    wins = {"parent_first": [0, 0], "change_first": [0, 0]}  # [change wins, pairs]
    for r, p, c in zip(runs, par, chg):
        if p is None or c is None:
            continue
        w = wins["parent_first" if r["parent_first"] else "change_first"]
        w[1] += 1
        if sign * (c - p) > 0:
            w[0] += 1
    return {"parent_median": pmed, "change_median": cmed, "parent_iqr": pq3 - pq1,
            "change_pct": 100.0 * (cmed - pmed) / abs(pmed) if pmed else 0.0,
            "wins": wins,
            # relative change, positive = better
            "gain": sign * (cmed - pmed) / abs(pmed) if pmed else 0.0,
            "spread": max((pq3 - pq1) / abs(pmed) if pmed else 0.0,
                          (cq3 - cq1) / abs(cmed) if cmed else 0.0),
            "all_better": min(sign * c for c in cv) > max(sign * p for p in pv)}, pv, cv


def summarize(runs, spec):
    out = {}
    for m in spec["end_to_end"]:
        name, bound, higher = m["name"], m["bound"], m["better"] == "higher"
        s, pv, cv = compare(runs, lambda r, side: metric(r[side], name), higher)
        if s is None:
            out[name] = {"verdict": "no data", "parent_n": len(pv), "change_n": len(cv)}
            continue
        gain, all_better = s.pop("gain"), s.pop("all_better")
        if gain < -bound:
            verdict = "worse past bound"
        elif s["spread"] > bound and not all_better:
            verdict = "unresolved"
        else:
            verdict = "flat"
        out[name] = dict(s, bound=bound, verdict=verdict)
    return out


def summarize_detail(runs, names):
    out = {}
    for name in names:
        units = {detail(r[side], name)[1] for r in runs for side in ("parent", "change")}
        units.discard(None)
        s, pv, cv = compare(runs, lambda r, side: detail(r[side], name)[0], "1/s" in units)
        if s is None:
            out[name] = {"parent_n": len(pv), "change_n": len(cv)}
            continue
        s.pop("gain")
        s.pop("all_better")
        out[name] = dict(s, unit="/".join(sorted(units)))
    return out


def print_rows(rows, tail):
    for name, s in rows.items():
        if "parent_median" not in s:
            print(f"{name:16s} {s.get('verdict', 'no data')}")
            continue
        pf, cf = s["wins"]["parent_first"], s["wins"]["change_first"]
        print(f"{name:16s} {s['parent_median']:10.4g} {s['change_median']:10.4g} "
              f"{s['parent_iqr']:9.3g} {s['change_pct']:+6.1f}% "
              f"{pf[0]:>5d}/{pf[1]:<6d} {cf[0]:>5d}/{cf[1]:<6d}  {tail(s)}")


def failed_share(runs, side):
    att = fail = 0
    for r in runs:
        res = r[side]["result"]
        if r[side]["exit"] != 0 or not isinstance(res, dict):
            fail += 1
            att += 1
        else:
            att += int(res.get("attempted", 0))
            fail += int(res.get("failed", 0))
    return fail / att if att else 1.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", help=f"report file name, written under {OUT_DIR}/")
    ap.add_argument("--detail", default="",
                    help="comma-separated detail metrics to report, e.g. save_s,load_s")
    args = ap.parse_args()
    if args.pairs < 1:
        ap.error(f"--pairs must be positive, got {args.pairs}")
    if args.seconds <= 0:
        ap.error(f"--seconds must be positive, got {args.seconds}")
    specs = []
    for side in (args.parent, args.change):
        path = os.path.join(side, "BENCHMARK.json")
        if not os.path.isfile(os.path.join(side, "perfbench", "run.py")):
            ap.error(f"{side} holds no perfbench/run.py")
        specs.append(json.load(open(path)))
    if specs[0] != specs[1]:
        print("ab_pairs: the two checkouts' BENCHMARK.json differ; using the parent's",
              file=sys.stderr)
    spec = specs[0]
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        ap.error(f"unknown workload {args.workload}")
    name = args.out or f"ab_{args.workload}_{time.strftime('%Y%m%dT%H%M%S')}.json"
    rel = os.path.normpath(name)
    if rel.startswith(OUT_DIR + os.sep):
        rel = rel[len(OUT_DIR) + 1:]
    out = os.path.join(OUT_DIR, rel)
    if os.path.isabs(name) or rel.startswith("..") or rel == OUT_DIR:
        ap.error(f"--out must name a file under {OUT_DIR}/, got {name}")

    runs = []
    for i in range(args.pairs):
        seed = args.seed_base + i
        parent_first = i % 2 == 0
        order = ["parent", "change"] if parent_first else ["change", "parent"]
        pair = {"pair": i, "seed": seed, "parent_first": parent_first}
        for side in order:
            pair[side] = run_one(args.parent if side == "parent" else args.change,
                                 args.workload, seed, args.seconds)
            res = pair[side]["result"]
            print(f"pair {i} seed {seed} {side:6s} exit {pair[side]['exit']} "
                  f"{json.dumps(res.get('metrics')) if isinstance(res, dict) else 'no result'}",
                  file=sys.stderr, flush=True)
        runs.append(pair)

    summary = summarize(runs, spec)
    details = summarize_detail(runs, [n for n in args.detail.split(",") if n])
    fails = {s: failed_share(runs, s) for s in ("parent", "change")}
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "pairs": args.pairs, "seconds": args.seconds,
                   "parent": os.path.abspath(args.parent),
                   "change": os.path.abspath(args.change),
                   "failed_share": fails, "summary": summary, "detail": details,
                   "runs": runs}, fh, indent=1)

    print(f"{args.workload}: {args.pairs} pairs, failed ops parent {fails['parent']:.1%} "
          f"change {fails['change']:.1%}")
    print(f"{'metric':16s} {'parent':>10s} {'change':>10s} {'par IQR':>9s} {'chg %':>7s} "
          f"{'wins p-first':>12s} {'wins c-first':>12s}  verdict")
    print_rows(summary, lambda s: s["verdict"])
    if details:
        print("detail (not end-to-end: no verdict)")
        print_rows(details, lambda s: s["unit"])
    print(f"report: {out}")


if __name__ == "__main__":
    main()
