#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark
program from source with sbt (offline, into perfbench/target, reused
while the sources are unchanged), runs one workload in a fresh JVM
inside a private run directory under perfbench/.run, compares the
outputs the JVM hands over with their DuckDB oracles, deletes the run
directory, and prints one JSON result as the last line.

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1
runs the workload with spans and Spark listeners on, writes the spans to
perfbench/.traces/<workload>-<seed>.jsonl and reports the per-layer
metrics, among them the traced run's own end-to-end figures (trace.*):
against an untraced run of the same seed they give the tracing
overhead. Exits 1 when an output is wrong, 2 when the benchmark
cannot run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
TRACES = os.path.join(HERE, ".traces")
WORKLOADS = ("ingest", "serve_steady", "serve_under_ingest", "batch_gates")
BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile with sbt unless the classpath on file matches the sources."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        die("no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "bench_classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        HERE, env, subprocess.STDOUT, time.time() + 840)
    cps = [l for l in out.splitlines() if l.startswith("/") and "classes" in l]
    if code != 0 or not cps:
        sys.stderr.write(out[-6000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cps[-1]}\n")
    return cps[-1]


def run_group(cmd, cwd, env, stderr, deadline):
    """Run `cmd` in its own process group; kill the group on timeout or
    when this launcher is interrupted. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        die("ran past its time budget")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def jvm(cp, args, run, deadline):
    """Run the benchmark JVM once; return its parsed PERFBENCH record."""
    os.makedirs(os.path.join(run, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(run, "stderr.log"), "w") as err:
        code, out = run_group(cmd, run, None, err, deadline)
    for line in out.splitlines():
        if line.startswith("perfbench: "):
            print(line)
    recs = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if code != 0 or not recs:
        with open(os.path.join(run, "stderr.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        die(f"benchmark JVM exited with {code}")
    return json.loads(recs[-1][len("PERFBENCH "):])


def oracle_failures(run, rec):
    """Failed operations by the DuckDB oracles: a gate or route whose
    output differs fails every call it stood for. Compared the way
    tools/selfcheck.py compares (column-name-sorted, row-sorted, exact).
    """
    if not rec["checks"]:
        return 0
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in ("events", "documents", "embeddings"):
        path = os.path.join(rec["data"], f"{name}.parquet")
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    with open(os.path.join(run, "out", "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    failed = 0
    for gate, calls in rec["checks"]:
        a = con.execute(sqls[gate]).df()
        b = pd.concat([pd.read_parquet(f) for f in
                       glob.glob(os.path.join(run, "out", gate, "*.parquet"))], ignore_index=True)
        a = a.reindex(sorted(a.columns), axis=1)
        b = b.reindex(sorted(b.columns), axis=1)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
            b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            except AssertionError:
                ok = False
        print(f"perfbench: oracle {gate}: {'OK' if ok else 'MISMATCH'} ({len(b)} rows, {calls} calls)")
        failed += 0 if ok else calls
    return failed


def measure(cp, a, trace, deadline):
    run = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    try:
        os.makedirs(TRACES, exist_ok=True)
        spans = os.path.join(TRACES, f"{a.workload}-{a.seed}.jsonl")
        rec = jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(trace), run, spans], run,
                  deadline)
        rec["failed"] += oracle_failures(run, rec)
        return rec
    finally:
        shutil.rmtree(run, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp = build()
    rec = measure(cp, a, a.trace, time.time() + BUDGET_S)
    values = rec["layer"] if a.trace else rec["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    for k, v in values.items():
        print(f"perfbench: metric {k} = {v}")
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"metrics not measured: {missing}")
    failed = rec["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": rec["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
