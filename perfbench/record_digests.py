#!/usr/bin/env python3
"""Re-record perfbench/digests.tsv, the expected outputs of engine-queries.

    python3 perfbench/record_digests.py

Runs each engine-queries query once over the committed fixture, writing its
output as parquet with the digest observed on the same pass and noting the
Window/Join/Aggregate/Generate counts of that write's plan. Then it replays
each query's DuckDB oracle SQL over the same fixture and compares the rows
(columns sorted by name, rows sorted, values exact). The digest file is
rewritten only when every query matches its oracle. Needs the python duckdb
module; run it after an intended change to a query's output.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

FIXTURE = os.path.join(run.ROOT, "perfbench", "fixture", "sf0.01")
DIGESTS = os.path.join(run.ROOT, "perfbench", "digests.tsv")


def main():
    import duckdb
    bdir = run.build_dir()
    cp = run.build(bdir, run.source_hash())
    out = os.path.join(bdir, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(out, "tmp"), "-cp", cp, "perfbench.Main",
        "--record-digests", out, "--root", run.ROOT, "--cores", str(run.CORES)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES), SPARK_LOCAL_DIRS=os.path.join(out, "local"))
    r = subprocess.run(cmd, cwd=out, env=env, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.exit(r.stderr[-4000:] + "\nrecording run failed")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for f in sorted(os.listdir(FIXTURE)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{FIXTURE}/{f}'")
    bad = 0
    for q, sql in sorted(oracles.items()):
        got_t = con.execute(f"SELECT * FROM '{out}/{q}/*.parquet'").fetch_arrow_table()
        want_t = con.execute(sql).fetch_arrow_table()
        cols = sorted(got_t.column_names)
        if cols != sorted(want_t.column_names):
            print(f"FAIL {q}: columns {cols} vs {sorted(want_t.column_names)}")
            bad += 1
            continue
        order = ", ".join(f'"{c}"' for c in cols)
        got = con.execute(f"SELECT {order} FROM got_t ORDER BY {order}").fetchall()
        want = con.execute(f"SELECT {order} FROM want_t ORDER BY {order}").fetchall()
        ok = got == want
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {q}: {len(got)} rows")
    if bad:
        sys.exit(f"{bad} queries differ from their oracle; digests not recorded")
    with open(os.path.join(out, "digests.tsv")) as f:
        lines = f.read()
    with open(DIGESTS, "w") as f:
        f.write("# query\trows\txxhash64 sum\tmurmur3 sum\tplan shape (recorded by record_digests.py)\n")
        f.write(lines)
    print(f"recorded {DIGESTS}")


if __name__ == "__main__":
    main()
