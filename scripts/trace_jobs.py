#!/usr/bin/env python3
"""Spark job census of one traced perfbench run.

    python3 scripts/trace_jobs.py .bench_build/traces/trace-batch-2.jsonl [--top N]

A traced run (`perfbench/run.py --trace 1`) keeps its spans, one JSON line
each, under `.bench_build/traces/`. Each span carries the Spark jobs, tasks
and shuffle bytes it launched (attributed to the innermost span). This
prints, per span name, the spans, jobs, tasks, shuffle bytes and wall time,
sorted by wall time, then the totals for set-up and for the window.

Set-up and window are told apart by the span's outermost ancestor: the
benchmark's timed windows are spans of their own that the trace file does
not hold, so a span whose chain ends at a parent id missing from the file
ran inside a window (serve's warm-up pass included, which is timed as one),
and a span whose chain ends at parent 0 ran in set-up. Totals count the
wall time of outermost spans only, so nested spans are not counted twice.
"""
import argparse
import json
import sys

FIELDS = ("jobs", "tasks", "shuffle_write_bytes")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def census(spans):
    """{"rows": per (phase, name), sorted by wall time; "totals": per phase}."""
    by_id = {s["id"]: s for s in spans}

    def outermost(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    rows, totals = {}, {}
    for s in spans:
        top = outermost(s)
        phase = "setup" if top["parent"] == 0 else "window"
        wall = (s["end_ns"] - s["start_ns"]) / 1e6
        r = rows.setdefault((phase, s["name"]), dict(
            phase=phase, name=s["name"], spans=0, wall_ms=0.0, **{k: 0 for k in FIELDS}))
        t = totals.setdefault(phase, dict(spans=0, wall_ms=0.0, **{k: 0 for k in FIELDS}))
        r["spans"] += 1
        r["wall_ms"] += wall
        t["spans"] += 1
        if top is s:
            t["wall_ms"] += wall
        for k in FIELDS:
            r[k] += s.get(k, 0)
            t[k] += s.get(k, 0)
    return {"rows": sorted(rows.values(), key=lambda r: (-r["wall_ms"], r["name"])),
            "totals": totals}


def render(c, top=None):
    head = f"{'phase':<7} {'span':<36} {'n':>6} {'jobs':>6} {'tasks':>7} {'shuffle_kb':>11} {'wall_ms':>10}"
    out = [head]
    for r in c["rows"][:top]:
        out.append(f"{r['phase']:<7} {r['name']:<36} {r['spans']:>6} {r['jobs']:>6} {r['tasks']:>7} "
                   f"{r['shuffle_write_bytes'] / 1024:>11.1f} {r['wall_ms']:>10.1f}")
    for phase in ("setup", "window"):
        t = c["totals"].get(phase)
        if t:
            out.append(f"{'total':<7} {phase:<36} {t['spans']:>6} {t['jobs']:>6} {t['tasks']:>7} "
                       f"{t['shuffle_write_bytes'] / 1024:>11.1f} {t['wall_ms']:>10.1f}")
    return "\n".join(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace", help="a trace-*.jsonl file of a traced perfbench run")
    ap.add_argument("--top", type=int, default=None, help="print only the N slowest span names")
    args = ap.parse_args(argv)
    print(render(census(load(args.trace)), args.top))


if __name__ == "__main__":
    sys.exit(main())
