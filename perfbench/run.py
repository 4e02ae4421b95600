"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload serve|batch --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), runs the workload in one JVM
(graft.perfbench.Main), adds the checks that need DuckDB, and prints one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. A `detail:` line before it carries every metric,
the run context and the failures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

DATA_DIR = "perfbench/data/sf0.001"
RUN_TIMEOUT_S = 170
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cds_archive(root, jar, workload):
    """Class-data sharing archive of one workload on one build. The first
    run of the workload dumps the classes it loaded into it; later runs map
    them from it instead of loading and verifying them again, which takes
    seconds off each JVM's start."""
    return os.path.join(root, build.BUILD_DIR,
                        f"cds-{workload}-{os.path.basename(jar)[:-len('.jar')]}.jsa")


def run_jvm(root, jar, args, work, deadline):
    cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
    jsa = cds_archive(root, jar, args.workload)
    dump = not os.path.exists(jsa)
    cds = [f"-XX:ArchiveClassesAtExit={jsa}.tmp" if dump else f"-XX:SharedArchiveFile={jsa}"]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens + JVM_FLAGS + cds +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", cp,
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(root, DATA_DIR)])
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("run: workload timed out")
    finally:
        log.close()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        raise SystemExit(f"run: JVM exited {proc.returncode} without a report")
    if dump and os.path.exists(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)
    rep = json.loads(lines[-1][len("PERFBENCH "):])
    rep["context"]["cds"] = "dumped" if dump else "mapped"
    return rep


def threw(rep, prefix):
    """Names of the operations under `prefix` that raised in the JVM; each
    is counted there as failed already."""
    ops = [o for o in rep["checks"].get("failed_ops", "").split(";") if o.startswith(prefix)]
    return {o[len(prefix):] for o in ops}


def check_entries(root, rep):
    """Every entry result of the last pass must equal its DuckDB oracle."""
    n, passed, bad = oracle.check(root, rep["checks"]["entry_results"], os.path.join(root, DATA_DIR),
                          threw(rep, "ops.entry."))
    rep["checks"]["entry_oracle"] = f"{passed}/{n} PASS"
    return bad


def check_scans(rep):
    """Each krep scan count must equal DuckDB SQL over the same parquet. A
    scan that raised has no counts and is not counted again."""
    import duckdb
    got = dict(kv.split("=", 1) for kv in rep["checks"]["scan_counts"].split(";") if kv)
    sqls = dict(kv.split("=", 1) for kv in rep["checks"]["scan_sql"].split(";") if kv)
    con = duckdb.connect()
    table = os.path.join(rep["checks"]["scan_table"], "**", "*.parquet")
    con.execute(f"CREATE VIEW pages AS SELECT text FROM read_parquet('{table}')")
    bad, equal, skip = [], 0, threw(rep, "krep.scan.")
    for key, sql in sqls.items():
        if key.split(".")[0] in skip:
            continue
        want = con.execute(f"SELECT {sql} FROM pages").fetchone()[0] or 0
        if key not in got or int(got[key]) != int(want):
            bad.append(f"scan {key}: krep {got.get(key)} vs duckdb {want}")
        else:
            equal += 1
    con.close()
    rep["checks"]["scan_oracle"] = f"{equal}/{len(sqls)} equal"
    return bad


def select_metrics(spec, rep, trace):
    """The metric set the contract asks for, checked against BENCHMARK.json:
    every name present with its declared unit. A per-layer metric that the
    workload does not exercise reads 0 and is listed in the detail."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    have = rep["layer"] if trace else rep["e2e"]
    metrics, idle = {}, []
    for m in wanted:
        v = have.get(m["name"])
        if v is None:
            if not trace:
                raise SystemExit(f"run: end-to-end metric {m['name']} missing")
            idle.append(m["name"])
            v = {"value": 0.0, "unit": m["unit"]}
        if v["unit"] != m["unit"] or v["value"] is None:
            raise SystemExit(f"run: metric {m['name']} reads {v}, expected unit {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    extra = sorted(set(have) - {m["name"] for m in wanted})
    if extra:
        raise SystemExit(f"run: metrics not declared in BENCHMARK.json: {extra}")
    return metrics, idle


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    spec = load_spec(root)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"run: unknown workload {args.workload}")
    for d in [DATA_DIR, "scripts/check_correctness.py"]:
        if not os.path.exists(os.path.join(root, d)):
            raise SystemExit(f"run: {d} not found; run from the root of a checkout")

    t0 = time.time()
    jar = build.build(root)
    t_built = time.time()
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(root, build.BUILD_DIR, "runs",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rep = run_jvm(root, jar, args, work, deadline)
        failures = list(rep["failures"])
        t_jvm = time.time()
        if args.workload == "batch":
            wrong = check_entries(root, rep) + check_scans(rep)
            rep["failed"] += len(wrong)
            failures += wrong
        rep["context"]["build_s"] = t_built - t0
        rep["context"]["jvm_process_s"] = t_jvm - t_built
        rep["context"]["python_checks_s"] = time.time() - t_jvm
        metrics, idle = select_metrics(spec, rep, args.trace)
        if args.trace:
            traces = os.path.join(root, build.BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, os.path.basename(rep["context"]["trace_file"]))
            shutil.move(rep["context"]["trace_file"], kept)
            rep["context"]["trace_file"] = os.path.relpath(kept, root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "failed_frac": rep["failed"] / max(1, rep["attempted"]),
              "failures": failures, "e2e": rep["e2e"], "layer": rep["layer"],
              "not_exercised": idle, "context": rep["context"], "checks": rep["checks"]}
    print("detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": rep["failed"] == 0, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
