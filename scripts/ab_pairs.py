#!/usr/bin/env python3
"""Runs the benchmark in alternating pairs on two checkouts and compares them.

    python3 scripts/ab_pairs.py --base ../parent --change . --workload serve \
        --seeds 1-10 --seconds 8 [--out pairs.jsonl] \
        [--traced 1 --layers query.phrase_p50_ms,query.alloc_kb_per_query]
    python3 scripts/ab_pairs.py --summarize pairs.jsonl [--base ../parent] [--layers ...]

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

--traced N adds per-layer context after the pairs: N traced runs per side
(`--trace 1`, seeds taken in turn from --seeds), which side goes first
alternating again, and the median per side of each per-layer metric named
in --layers. Their result lines go to --out with `"traced": true`; the
end-to-end table is built from untraced runs only, and --summarize prints
the per-layer medians of any traced lines the file holds.
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


def run_once(checkout, workload, seed, seconds, trace=False):
    """One perfbench run in `checkout`: its result line, or an error."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
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
    {"side": "base"|"change", "seed": n, "result": {...}} or an "error",
    plus `"traced": true` on traced runs, which only the failure list reads."""
    ok = [r for r in rows
          if "result" in r and r.get("seed") is not None and not r.get("traced")]
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
        where = (f"{r.get('side')} " + ("traced " if r.get("traced") else "") +
                 ("warm-up" if r.get("seed") is None else f"seed {r['seed']}"))
        if "error" in r:
            bad.append(f"{where}: no report ({r['error']})")
        elif not r["result"].get("correct") or r["result"].get("failed", 0) > 0:
            bad.append(f"{where}: correct={r['result'].get('correct')} "
                       f"failed={r['result'].get('failed')}/{r['result'].get('attempted')}")
    return {"pairs": len(pairs), "metrics": metrics, "bad_runs": bad}


def layer_medians(rows, layers=None):
    """Median per side of each per-layer metric over the traced runs that
    reported it: {name: {"base": (median, runs), "change": (...)}}. All
    metrics the traced runs report when `layers` is None."""
    traced = [r for r in rows if r.get("traced") and "result" in r]
    if layers is None:
        layers = sorted({n for r in traced for n in r["result"].get("metrics", {})})
    out = {}
    for name in layers:
        out[name] = {}
        for side in ("base", "change"):
            vals = [r["result"]["metrics"][name]["value"] for r in traced
                    if r["side"] == side and r["result"].get("metrics", {}).get(name, {})
                    .get("value") is not None]
            out[name][side] = (statistics.median(vals), len(vals)) if vals else (None, 0)
    return out


def render_layers(workload, medians):
    def cell(v):
        return "-" if v[0] is None else f"{v[0]:.4g} (n={v[1]})"
    lines = [f"### {workload}: per-layer medians of traced runs\n",
             "| metric | base | change |", "|---|---|---|"]
    for name, sides in medians.items():
        lines.append(f"| {name} | {cell(sides['base'])} | {cell(sides['change'])} |")
    return "\n".join(lines)


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
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per side after the pairs")
    ap.add_argument("--layers", help="comma-separated per-layer metrics to report")
    args = ap.parse_args()
    layers = args.layers.split(",") if args.layers else None
    if args.traced and not layers:
        ap.error("--traced needs --layers")
    with open(os.path.join(args.base, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if args.summarize:
        with open(args.summarize) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
        for w in sorted({r["workload"] for r in rows}):
            wrows = [r for r in rows if r["workload"] == w]
            print(render(w, summarize(spec, wrows)))
            if any(r.get("traced") for r in wrows):
                print(render_layers(w, layer_medians(wrows, layers)))
        return
    if not args.workload:
        ap.error("--workload is required unless --summarize is given")

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    rows = []

    def record(side, seed, traced=False):
        row = {"workload": args.workload, "side": side, "seed": seed}
        if traced:
            row["traced"] = True
        row.update(run_once(sides[side], args.workload, seed if seed is not None else 0,
                            args.seconds, traced))
        print(json.dumps(row), flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(row) + "\n")
        rows.append(row)

    for side in sides:  # warm-up, discarded
        record(side, None)
    def order(i):
        return ("base", "change") if i % 2 == 0 else ("change", "base")

    pair_seeds = seeds(args.seeds)
    for i, seed in enumerate(pair_seeds):
        for side in order(i):
            record(side, seed)
    for i in range(args.traced):
        for side in order(i):
            record(side, pair_seeds[i % len(pair_seeds)], traced=True)
    print(render(args.workload, summarize(spec, rows)))
    if args.traced:
        print(render_layers(args.workload, layer_medians(rows, layers)))


if __name__ == "__main__":
    main()
