#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the expected output of every batch
query the benchmark checks, at the benchmark's scale factor and at the
smoke scale factor.

Run it from the root of a checkout of the code whose outputs count as
reference (the seed of a benchmark change):

    python3 perfbench/make_expected.py

It produces each output the way a benchmark run does (the harness's
set-up pass, same order and settings), then runs the query's DuckDB oracle
twin (`SparkEntry.oracleSql`) on the generated tables; both are hashed the
way run.py hashes. The twin's hash is the expectation when this checkout's
output matches it. An output with no twin, or whose twin cannot reproduce
it exactly, takes this checkout's own output as the expectation and is
listed with the reason (the twin's own answer is accepted as well, under
`alt`); re-check those by hand.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def harness(cp, run_dir, args):
    return subprocess.run(run.java_cmd(cp, run_dir, "graft.perfbench.Main", args),
                          cwd=run_dir, capture_output=True, text=True, check=True).stdout


def main():
    import duckdb
    root = os.path.dirname(HERE)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = run.build(root, build_dir)
    path = os.path.join(HERE, "expected.json")
    expected = {}
    for sf, smoke in ((run.SF, False), (run.SMOKE_SF, True)):
        data = run.ensure_data(build_dir, sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        entries = {}
        run_dir = os.path.join(build_dir, "runs", f"expected-batch-sf{sf}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        smoke_arg = ["--smoke", "1" if smoke else "0"]
        listing = json.loads(harness(cp, run_dir, ["--list", "1"] + smoke_arg).strip().splitlines()[-1])
        out = os.path.join(run_dir, "result.json")
        harness(cp, run_dir, ["--workload", "batch", "--seed", "0", "--seconds", "0", "--trace", "0",
                              "--data", data, "--run-dir", run_dir, "--out", out] + smoke_arg)
        outputs = json.load(open(out))["outputs"]
        for n in listing["workloads"]["batch"]:
            got, rows = run.output_hash(con, outputs[n])
            entry = {"hash": got, "rows": rows, "source": "seed"}
            sql = listing["oracle"].get(n)
            if sql is None:
                entry["note"] = "no oracle twin"
            else:
                twin, twin_rows = run.frame_hash(con.execute(sql).fetch_df())
                if twin == got:
                    entry["source"] = "oracle"
                else:
                    # the twin's answer is accepted too
                    entry["alt"] = [twin]
                    entry["note"] = (f"oracle twin differs ({twin_rows} rows vs {rows}); "
                                     "checked against the seed output")
            entries[n] = entry
            print(f"sf{sf} {entry['source']:<6} {n} {entry.get('note', '')}")
        shutil.rmtree(run_dir, ignore_errors=True)
        expected[f"sf{sf}"] = entries
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
