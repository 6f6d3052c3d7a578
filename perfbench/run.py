#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (into .bench_build/ and the sbt target
directories); later runs reuse the build until a source file changes.
The JVM writes result.json into .bench_build/runs/<workload>/; this
script adds the DuckDB oracle check of query_mix, the self-test of that
check, and prints one JSON object as the last line of standard output.
The exit code is 0 only when every output was correct.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={tmp_dir()}").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc {rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def tmp_dir():
    """Temporary files stay inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def run_jvm(cp, args, run_dir, deadline):
    tmp = tmp_dir()
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    # The parallel collector with a fixed young generation: G1's
    # concurrent work competes with four busy task threads. In four
    # interleaved pairs of curation_dedup runs, G1 gave 14.4k-16.9k rows/s
    # (IQR/median 0.14) and this collector 18.9k-19.6k (0.03).
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--data-dir", os.path.join(BUILD, "data")]
    err_path = os.path.join(run_dir, "jvm.err")
    with open(err_path, "w") as err, open(os.path.join(run_dir, "jvm.out"), "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded its time limit", 1)
    with open(err_path, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if rc != 0:
        with open(err_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {rc}", 1)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def canon(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def differs(got, want):
    """Why two result frames differ, or None (dtype-strict, ordered)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    if not got.equals(want):
        return "values differ"
    return None


def oracle_check(check_dir, tables_dir):
    """Compares each query's parquet output with its DuckDB oracle.
    Returns (failures, self-test misses)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=1")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures, frames = [], []
    for name in sorted(oracles):
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            failures.append(f"{name}: no output")
            continue
        got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
        want = canon(con.sql(oracles[name]).df())
        why = differs(got, want)
        if why:
            failures.append(f"{name}: {why}")
        elif len(got):
            frames.append((got, want))
    # self-test: a corrupted result must fail the compare
    missed = []
    if not frames:
        missed.append("no non-empty result to corrupt")
    else:
        got, want = frames[0]
        dropped = got.iloc[:-1]
        altered = got.copy()
        c = altered.columns[0]
        altered.at[0, c] = None if altered.at[0, c] is not None else 0
        for what, bad in (("row dropped", dropped), ("value altered", altered)):
            if differs(bad, want) is None:
                missed.append(what)
    return failures, missed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    for need in (bench_json, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a full checkout")
    with open(bench_json) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    os.makedirs(BUILD, exist_ok=True)
    cp = classpath()
    # a run that had to build may take longer; the limit covers the rest
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(BUILD, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res = run_jvm(cp, args, run_dir, deadline)

    problems = [f"check: {e}" for e in res["check_errors"]]
    problems += [f"self-test: check missed '{e}'" for e in res["selftest_missed"]]
    failed, attempted = res["failed"], res["attempted"]
    if args.workload == "query_mix":
        wrong, missed = oracle_check(os.path.join(run_dir, "check"),
                                     res["describe"]["tables_dir"])
        failed += len(wrong)
        problems += [f"oracle: {e}" for e in wrong]
        problems += [f"self-test: oracle compare missed '{e}'" for e in missed]
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)

    values = dict(res["metrics"])
    values["ok_share"] = 1.0 - failed / attempted
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    absent = [m["name"] for m in declared if values.get(m["name"]) is None]
    if absent:
        fail(f"metrics not produced: {', '.join(absent)}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    if args.trace:
        print(f"per-layer metrics, {args.workload}, seed {args.seed} "
              f"(medians over traced passes)")
        for name, m in metrics.items():
            print(f"  {name:<44} {m['value']:>16.4f} {m['unit']}")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
