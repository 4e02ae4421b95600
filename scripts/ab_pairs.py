#!/usr/bin/env python3
"""Runs the benchmark in alternating pairs on two checkouts and compares them.

    python3 scripts/ab_pairs.py --base ../parent --change . --workload serve \
        --seeds 1-10 --seconds 8 [--out pairs.jsonl]
    python3 scripts/ab_pairs.py --summarize pairs.jsonl [--base ../parent]

Each checkout runs `python3 perfbench/run.py` from its own root. First one
discarded warm-up run per side (it builds the jar and dumps the class-data
sharing archive, see perfbench/run.py), then one pair per seed; which side
runs first alternates from pair to pair, so a host that drifts over the
runs does not favour one side. Every run's result line is appended to
--out as it lands, so an interrupted comparison keeps what it measured;
--summarize re-reads such a file without running anything.

The summary prints, per end-to-end metric of the base checkout's
BENCHMARK.json (read, never written): median and quartiles of each side
(statistics.quantiles(values, n=4), as perfbench/spread.py), the pairs the
change wins, how much worse the change's median is as a share of the
base's, and whether that stays within the metric's bound. Then every run
that is not `correct`, has `failed` > 0 or did not report at all.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout, workload, seed, seconds):
    """One untraced perfbench run in `checkout`: its result line, or an error."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    try:
        return {"result": json.loads(lines[-1])}
    except (IndexError, json.JSONDecodeError):
        return {"error": f"rc={res.returncode}: {res.stderr.strip()[-500:]}"}


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def worse_by(better, base, change):
    """By how much `change` is worse than `base`, as a share of `base`."""
    if not base:
        return 0.0
    return ((change - base) if better == "lower" else (base - change)) / base


def summarize(spec, rows):
    """Per end-to-end metric: each side's quartiles, pair wins and the bound
    verdict; plus every run that failed. `rows` are the records --out holds:
    {"side": "base"|"change", "seed": n, "result": {...}} or an "error"."""
    ok = [r for r in rows if "result" in r and r.get("seed") is not None]
    by_seed = {}
    for r in ok:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]
    pairs = [p for _, p in sorted(by_seed.items()) if {"base", "change"} <= set(p)]
    metrics = []
    for m in spec["end_to_end"] if pairs else []:
        name, better = m["name"], m["better"]
        b = [p["base"]["metrics"][name]["value"] for p in pairs]
        c = [p["change"]["metrics"][name]["value"] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum(1 for x, y in zip(b, c) if (y < x if better == "lower" else y > x))
        w = worse_by(better, bq[1], cq[1])
        metrics.append({"name": name, "unit": m["unit"], "better": better,
                        "bound": m["bound"], "base": bq, "change": cq, "wins": wins,
                        "pairs": len(pairs), "worse_by": w, "within": w <= m["bound"]})
    bad = []
    for r in rows:
        where = f"{r.get('side')} " + ("warm-up" if r.get("seed") is None else f"seed {r['seed']}")
        if "error" in r:
            bad.append(f"{where}: no report ({r['error']})")
        elif not r["result"].get("correct") or r["result"].get("failed", 0) > 0:
            bad.append(f"{where}: correct={r['result'].get('correct')} "
                       f"failed={r['result'].get('failed')}/{r['result'].get('attempted')}")
    return {"pairs": len(pairs), "metrics": metrics, "bad_runs": bad}


def render(workload, summ):
    lines = [f"### {workload}: {summ['pairs']} pairs\n",
             "| metric | base median [q1, q3] | change median [q1, q3] | change wins | "
             "worse by | bound | within |",
             "|---|---|---|---|---|---|---|"]
    for m in summ["metrics"]:
        b, c = m["base"], m["change"]
        lines.append(f"| {m['name']} ({m['unit']}) | {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}] | "
                     f"{c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}] | {m['wins']}/{m['pairs']} | "
                     f"{m['worse_by']:+.3f} | {m['bound']} | {'yes' if m['within'] else 'NO'} |")
    lines.append("")
    lines.append("Runs not correct or with failures: " +
                 ("none" if not summ["bad_runs"] else "; ".join(summ["bad_runs"])))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=".", help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", help="JSON lines file the runs are appended to")
    ap.add_argument("--summarize", help="summarize this JSON lines file; run nothing")
    args = ap.parse_args()
    with open(os.path.join(args.base, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if args.summarize:
        with open(args.summarize) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
        for w in sorted({r["workload"] for r in rows}):
            print(render(w, summarize(spec, [r for r in rows if r["workload"] == w])))
        return
    if not args.workload:
        ap.error("--workload is required unless --summarize is given")

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    rows = []

    def record(side, seed):
        row = {"workload": args.workload, "side": side, "seed": seed}
        row.update(run_once(sides[side], args.workload, seed if seed is not None else 0,
                            args.seconds))
        print(json.dumps(row), flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(row) + "\n")
        rows.append(row)

    for side in sides:  # warm-up, discarded
        record(side, None)
    for i, seed in enumerate(seeds(args.seeds)):
        for side in (("base", "change") if i % 2 == 0 else ("change", "base")):
            record(side, seed)
    print(render(args.workload, summarize(spec, rows)))


if __name__ == "__main__":
    main()
