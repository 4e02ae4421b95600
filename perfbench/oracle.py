"""DuckDB oracle for the EntryQueries results a `batch` pass writes.

Every entry's result (a parquet directory, as graft.Verify writes it) is
compared with its oracle SQL's answer by the repository's own comparison
(scripts/check_correctness.py: canonical row order, sorted columns,
float tolerance). The oracle SQL runs over fixture tables that never
change, and a few of the SQL oracles take minutes in DuckDB, so answers
are kept per entry, keyed by the SHA-256 of the SQL text:

    perfbench/data/oracle/<entry>-<sha>.parquet   committed answers
    .bench_build/oracle/<entry>-<sha>.parquet     answers computed here

An entry whose SQL changed has no stored answer under its new key and is
computed live. To refresh the committed answers after oracle SQL changes:

    python3 perfbench/oracle.py refresh
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
COMMITTED = "perfbench/data/oracle"
LOCAL = os.path.join(build.BUILD_DIR, "oracle")


def _check_module(root):
    sys.path.insert(0, os.path.join(root, "scripts"))
    import check_correctness
    return check_correctness


def _key(name, sql):
    return f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet"


class Oracle:
    def __init__(self, root, data_dir):
        self.root, self.data_dir, self.con = root, data_dir, None

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def compute(self, name, sql, store):
        """Runs the oracle SQL and stores its answer under `store`."""
        path = os.path.join(self.root, store, _key(name, sql))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self._connect().execute(sql).fetchdf().to_parquet(path, index=False)
        return path

    def answer(self, name, sql):
        """The oracle's answer: stored if present, else computed and stored.
        Read back from parquet either way, so both paths compare alike."""
        for d in (COMMITTED, LOCAL):
            p = os.path.join(self.root, d, _key(name, sql))
            if os.path.exists(p):
                return pd.read_parquet(p)
        return pd.read_parquet(self.compute(name, sql, LOCAL))


def check(root, out_dir, data_dir, threw=()):
    """Returns (entries, entries passing, [failure messages]). Entries in
    `threw` raised in the run, which counted them already: their missing
    result is not counted again."""
    cc = _check_module(root)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    oracle = Oracle(root, data_dir)
    names = sorted(n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n)))
    bad = [f"entry {n}: no result written" for n in sorted(set(sqls) - set(names) - set(threw))]
    passed = 0
    for name in names:
        if name not in sqls:
            bad.append(f"entry {name}: no oracle SQL")
            continue
        try:
            got = pd.read_parquet(os.path.join(out_dir, name))
            ok, why = cc.frames_equal(cc.canon(got), cc.canon(oracle.answer(name, sqls[name])))
        except Exception as e:  # an unreadable result or oracle is a failed check
            ok, why = False, f"error {str(e).splitlines()[0][:120]}"
        if ok:
            passed += 1
        else:
            bad.append(f"entry {name}: {why}")
    return len(set(names) | set(sqls)), passed, bad


def refresh(root, data_dir):
    """Recomputes every committed answer from the current oracle SQL."""
    jar = build.build(root)
    sql_path = os.path.join(root, build.BUILD_DIR, "oracle_sql.json")
    cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graft.perfbench.OracleSql", sql_path],
                   check=True)
    with open(sql_path) as fh:
        sqls = json.load(fh)
    for old in glob.glob(os.path.join(root, COMMITTED, "*.parquet")):
        os.remove(old)
    oracle = Oracle(root, data_dir)
    for name, sql in sorted(sqls.items()):
        print(oracle.compute(name, sql, COMMITTED))


if __name__ == "__main__":
    if sys.argv[1:] != ["refresh"]:
        raise SystemExit(__doc__)
    refresh(os.getcwd(), os.path.join(os.getcwd(), "perfbench/data/sf0.001"))
