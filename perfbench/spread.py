"""Runs the benchmark over several seeds and summarises the runs.

    python3 perfbench/spread.py --workloads serve batch --seeds 1-10 --sets 2 \
        --traced 2 --out perfbench/baseline/baseline.json

For each workload a first run (seed 0) is discarded: it may build, and it
dumps the workload's class-data sharing archive (see run.py). Then the
seeds are run --sets times, one set after the other, then --traced traced
runs on the seeds after them. Per set: every
end-to-end metric's values, median, first and third quartile
(statistics.quantiles(values, n=4)) and the quartile spread as a share of
the median, which is what each metric's bound in BENCHMARK.json is judged
against. Across sets: by how much each later set's median is worse than the
first set's, as a share of it, beside the bound. Also failed/attempted per
run; and from the traced runs the per-layer medians and the tracing
overhead, the traced runs' end-to-end medians minus the untraced ones.
Writes the JSON summary (other workloads already in --out are kept) and
prints a markdown rendering of it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one(workload, seed, trace, seconds, run_set=0):
    t0 = time.time()
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = res.stdout.splitlines()
    if res.returncode != 0 or not lines:
        return {"seed": seed, "trace": trace, "set": run_set, "rc": res.returncode,
                "error": res.stderr[-2000:]}
    detail = next(json.loads(l[8:]) for l in lines if l.startswith("detail: "))
    return {"seed": seed, "trace": trace, "set": run_set, "rc": 0, "process_s": time.time() - t0,
            "result": json.loads(lines[-1]), "detail": detail}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def worse(better, first, later):
    """By how much `later` is worse than `first`, as a share of `first`."""
    return ((later - first) if better == "lower" else (first - later)) / first


def summarise(spec, runs):
    plain = [r for r in runs if r["rc"] == 0 and r["trace"] == 0]
    traced = [r for r in runs if r["rc"] == 0 and r["trace"] == 1]
    out = {"runs": len(runs), "errors": [r for r in runs if r["rc"] != 0],
           "process_s": [round(r["process_s"], 1) for r in runs if r["rc"] == 0],
           "failed": [[r["result"]["failed"], r["result"]["attempted"]] for r in plain + traced],
           "failures": sorted({f for r in plain + traced for f in r["detail"]["failures"]}),
           "checks": plain[-1]["detail"]["checks"] if plain else {},
           "context": plain[-1]["detail"]["context"] if plain else {}}
    sets = sorted({r["set"] for r in plain})
    out["sets"] = []
    for k in sets:
        xs = [r for r in plain if r["set"] == k]
        if len(xs) >= 2:
            out["sets"].append({m["name"]: summary([r["result"]["metrics"][m["name"]]["value"]
                                                    for r in xs]) for m in spec["end_to_end"]})
    if len(out["sets"]) >= 2:
        first = out["sets"][0]
        out["agreement"] = {m["name"]: {
            "bound": m["bound"],
            "worse": [worse(m["better"], first[m["name"]]["median"], later[m["name"]]["median"])
                      for later in out["sets"][1:]]} for m in spec["end_to_end"]}
    if traced:
        out["per_layer"] = {m["name"]: statistics.median(
            [r["result"]["metrics"][m["name"]]["value"] for r in traced])
            for m in spec["per_layer"]}
        out["not_exercised"] = traced[0]["detail"]["not_exercised"]
        if plain:
            out["trace_overhead"] = {}
            for m in spec["end_to_end"]:
                t = statistics.median([r["detail"]["e2e"][m["name"]]["value"] for r in traced])
                u = statistics.median([r["result"]["metrics"][m["name"]]["value"] for r in plain])
                out["trace_overhead"][m["name"]] = {"traced": t, "untraced": u, "diff": t - u,
                                                    "share": (t - u) / u if u else None}
    return out


def markdown(spec, summ):
    lines = []
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w, s in summ.items():
        lines.append(f"### {w}\n")
        fails = ", ".join(f"{f}/{a}" for f, a in s["failed"])
        lines.append(f"failed/attempted per run: {fails}  ")
        lines.append(f"run wall (s): {s['process_s']}\n")
        for k, st in enumerate(s["sets"]):
            lines.append(f"Set {k + 1}:\n")
            lines.append("| metric | median | q1 | q3 | spread | bound |")
            lines.append("|---|---|---|---|---|---|")
            for n, v in st.items():
                lines.append(f"| {n} | {v['median']:.4g} | {v['q1']:.4g} | {v['q3']:.4g} | "
                             f"{v['spread']:.3f} | {bounds.get(n, 'none')} |")
            lines.append("")
        if "agreement" in s:
            lines.append("Later sets against set 1 (median worse by, as a share of set 1's; "
                         "negative is better):\n")
            lines.append("| metric | worse by | bound |")
            lines.append("|---|---|---|")
            for n, v in s["agreement"].items():
                lines.append(f"| {n} | {', '.join(f'{x:+.3f}' for x in v['worse'])} | {v['bound']} |")
            lines.append("")
        if "trace_overhead" in s:
            lines.append("| metric | traced median | untraced median | overhead |")
            lines.append("|---|---|---|---|")
            for n, v in s["trace_overhead"].items():
                share = "" if v["share"] is None else f" ({v['share']:+.1%})"
                lines.append(f"| {n} | {v['traced']:.4g} | {v['untraced']:.4g} | "
                             f"{v['diff']:+.4g}{share} |")
            lines.append("")
        if "per_layer" in s:
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            idle = set(s["not_exercised"])
            lines.append("| per-layer metric (traced median) | value | unit |")
            lines.append("|---|---|---|")
            for n, v in s["per_layer"].items():
                if n not in idle:
                    lines.append(f"| {n} | {v:.4g} | {units[n]} |")
            lines.append(f"\nNot exercised on {w} (read 0): {', '.join(sorted(idle)) or 'none'}\n")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2, help="times the seeds are run")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    plain = seeds(args.seeds)
    summ = {}
    if args.out and os.path.exists(args.out):  # keep other workloads' summaries
        with open(args.out) as fh:
            summ = json.load(fh)["workloads"]
    for w in args.workloads:
        one(w, 0, 0, spec["run_seconds"])
        runs = [one(w, s, 0, spec["run_seconds"], k) for k in range(args.sets) for s in plain]
        runs += [one(w, plain[-1] + 1 + i, 1, spec["run_seconds"]) for i in range(args.traced)]
        summ[w] = summarise(spec, runs)
        if args.out:
            os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
            with open(args.out, "w") as fh:
                json.dump({"seeds": args.seeds, "sets": args.sets, "traced": args.traced,
                           "workloads": summ},
                          fh, indent=1, sort_keys=True)
    print(markdown(spec, summ))


if __name__ == "__main__":
    main()
