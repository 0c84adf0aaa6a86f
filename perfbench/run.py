#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--smoke]

Workloads: bus_live and batch (see BENCHMARK.json). The first run in a checkout compiles the project and the
harness from source with sbt (into the checkout's own `target/` dirs) and
generates the input tables into `.bench_build/` (or `$CARGO_TARGET_DIR`);
later runs reuse both. Each run gets a fresh directory for its warehouse,
checkpoints, Spark local dirs, temp files and outputs, removed at exit.

The JVM harness (graft.perfbench.Main) measures; this script checks the
outputs against `perfbench/expected.json`, prints one line per metric and
as its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics, or with `--trace 1` the per-layer
metrics (the traced run also keeps its spans and audit table under
`.bench_build/trace/`). `--smoke` runs a short version on sf0.001 tables.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SF = "0.01"
SMOKE_SF = "0.001"
HEAP = "2g"
TIMEOUT_S = 170
# generator lateness (ms, tail at the nominal rung) above which a smoke-mode
# bus_live run is invalid: the load did not arrive as scheduled
MAX_GEN_LATE_MS = 100.0

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    return env


def build(root, build_dir):
    """Compile the project and the harness; return the runtime classpath."""
    fp = source_fingerprint(root)
    cp_file = os.path.join(build_dir, f"classpath-{fp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "/perfbench/target/" in l and l.count(os.pathsep) > 10]
    if r.returncode != 0 or not cps:
        print("\n".join(lines[-30:]), file=sys.stderr)
        die(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def java_cmd(cp, run_dir, main_class, args):
    # a fixed-size heap: the collector does not resize it during a run
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main_class] + args)


def ensure_data(build_dir, sf):
    sys.path.insert(0, HERE)
    import gen_data
    d = os.path.join(build_dir, "data", f"sf{sf}-v{gen_data.VERSION}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.gen(float(sf), d)
        open(os.path.join(d, "_done"), "w").close()
    return d


# ---- output canonicalization (the project's oracle-compare rules) ----

def canon(v):
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v)


def frame_hash(df):
    """sha256 over the rows of a result, columns sorted by name, row order
    kept (every graded query ends in a total ORDER BY)."""
    cols = sorted(df.columns)
    df = df[cols]
    h = hashlib.sha256()
    h.update(("\t".join(cols) + "\n").encode())
    for row in df.itertuples(index=False, name=None):
        h.update(("\t".join(canon(v) for v in row) + "\n").encode())
    return h.hexdigest(), len(df)


def output_hash(con, path):
    return frame_hash(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetch_df())


def check_outputs(outputs, sf):
    """Compare each output's hash with the committed expectation; returns
    (checked, wrong names, unexpected names)."""
    expected = json.load(open(os.path.join(HERE, "expected.json"))).get(f"sf{sf}", {})
    import duckdb
    con = duckdb.connect()
    wrong, missing = [], []
    for name, path in sorted(outputs.items()):
        want = expected.get(name)
        if want is None:
            missing.append(name)
            continue
        try:
            got, rows = output_hash(con, path)
        except Exception as e:  # unreadable output is a wrong output
            print(f"perfbench: {name}: unreadable output: {e}", file=sys.stderr)
            wrong.append(name)
            continue
        if got != want["hash"] and got not in want.get("alt", []):
            wrong.append(name)
            print(f"perfbench: WRONG {name}: {rows} rows (hash {got}), want {want['rows']}",
                  file=sys.stderr)
        elif got != want["hash"]:
            print(f"perfbench: {name}: matches the oracle twin, not the seed output", file=sys.stderr)
    return len(outputs) - len(missing), wrong, missing


def spec():
    return json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    if not os.path.exists(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main")):
        die("no project source next to perfbench/ (need build.sbt and src/main)")
    bench = spec()
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        die(f"unknown workload {a.workload}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)
    sf = SMOKE_SF if a.smoke else SF
    data = ensure_data(build_dir, sf)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = java_cmd(cp, run_dir, "graft.perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", data, "--run-dir", run_dir, "--out", out,
                    "--smoke", "1" if a.smoke else "0"])
    log = os.path.join(build_dir, f"last-{a.workload}.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = p.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                die(f"{a.workload} timed out after {TIMEOUT_S}s (log: {log})", 3)
        if rc != 0 or not os.path.exists(out):
            tail = open(log).read().splitlines()[-25:]
            print("\n".join(tail), file=sys.stderr)
            die(f"{a.workload} harness exited {rc} (log: {log})", 3)
        res = json.load(open(out))
        if a.trace:
            dst = os.path.join(build_dir, "trace", f"{a.workload}-seed{a.seed}")
            shutil.rmtree(dst, ignore_errors=True)
            if os.path.isdir(os.path.join(run_dir, "trace")):
                shutil.copytree(os.path.join(run_dir, "trace"), dst)
            with open(os.path.join(dst, "result.json"), "w") as f:
                json.dump(res, f, indent=1)
        checked, wrong, missing = check_outputs(res["outputs"], sf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    notes = res["notes"]
    if a.smoke and a.workload == "bus_live" and \
            res["layers"].get("gen.late_ms_tail", {}).get("value", 0) > MAX_GEN_LATE_MS:
        die(f"invalid run: generator fell behind at the nominal rate "
            f"(late tail {res['layers']['gen.late_ms_tail']['value']:.1f} ms)", 4)
    jvm_checks = [c for c in res["checks"] if not c["ok"]]
    checked += int(notes.get("checked", 0))
    n_wrong = len(wrong) + int(notes.get("wrong", 0))
    wrong_frac = n_wrong / max(1, checked)
    res["layers"]["wrong_frac"] = {"value": wrong_frac, "unit": "ratio"}
    correct = n_wrong == 0 and not jvm_checks and not missing and res["failed"] == 0

    # every listed metric, every workload; a per-layer metric of a layer
    # this workload does not exercise reads 0
    want = bench["per_layer"] if a.trace else bench["end_to_end"]
    pool = dict(res["e2e"])
    if a.trace:
        pool.update(res["layers"])
    metrics = {}
    for m in want:
        v = (pool.get(m["name"]) or {}).get("value")
        if v is None and a.trace:
            v = 0.0
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    # human-readable lines first; the last line is the JSON result
    print(f"workload {a.workload} seed {a.seed} sf{sf} cores {notes.get('cores')}")
    for k, v in res["e2e"].items():
        extra = ""
        for suffix in (".percentile", ".samples"):
            if k + suffix in notes:
                extra += f" {suffix[1:]}={notes[k + suffix]}"
        print(f"  {k:<18} {v['value']:.6g} {v['unit']}{extra}")
    if "latency.samples" in notes:
        print(f"  latency samples {notes['latency.samples']}, percentile {notes.get('latency_tail_ms.percentile')}")
    print(f"  fail_frac {res['failed'] / max(1, res['attempted']):.6g} "
          f"({res['failed']}/{res['attempted']})  wrong_frac {wrong_frac:.6g} ({n_wrong}/{checked})")
    for c in jvm_checks[:20]:
        print(f"  check failed: {c['what']}: {c['detail']}")
    if missing:
        print(f"  no expected output for: {', '.join(missing)}")
    if wrong:
        print(f"  wrong outputs: {', '.join(wrong)}")
    print(f"  verdict: {'correct' if correct else 'INCORRECT'}")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
