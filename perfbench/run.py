#!/usr/bin/env python3
"""Benchmark entry point for the KG pipeline and the gate-query pass.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_dup --seed 1 --seconds 5 --trace 0

It builds the engine from source together with the runner (once per source
state, under .bench_build/), then runs one closed-loop measurement in a
single JVM at local[nproc]. For query_pass it then compares every query's
result with the query's DuckDB oracle SQL over the same tables. The last line
of standard output is the result JSON. A failed output check or build exits
non-zero without a result line.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "source.sha256")
# class-data archive of the engine's classpath: the first run writes it, later
# runs map it and start faster
ARCHIVE = os.path.join(BUILD, "classes.jsa")
TMP = os.path.join(BUILD, "tmp")
RUN_TIMEOUT_S = 170  # a run must end within 180 s
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(*commands, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
                       f" -XX:-UsePerfData -Djava.io.tmpdir={TMP}").strip()
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                          cwd=BENCH, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)


def build():
    """Compile engine and runner; cache the runtime classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    res = sbt("compile", "export Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "[error]" in res.stdout:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def canon(df):
    """Columns by name, values normalised, rows sorted: the form in which a
    Spark result and its oracle's are compared. The same normalisation as
    tools/compare.py, kept here so the benchmark's check changes only with
    the benchmark."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif s.dtype == object:
            df[c] = s.apply(lambda v: tuple(v) if hasattr(v, "__len__")
                            and not isinstance(v, (str, bytes)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_queries(out):
    """Each query's Spark result must equal its DuckDB oracle's."""
    import duckdb
    import pandas as pd
    try:
        with open(os.path.join(out, "oracle.json")) as fh:
            oracle = json.load(fh)
    except OSError:
        fail("query results missing")
    con = duckdb.connect()
    tables = oracle["tables"]
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t)}/*.parquet')")
    bad = []
    for name, sql in sorted(oracle["queries"].items()):
        got = canon(pd.read_parquet(os.path.join(out, name)))
        want = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            bad.append(name)
    con.close()
    if bad:
        fail(f"query results differ from the DuckDB oracle: {', '.join(bad)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala) are missing")
    os.makedirs(TMP, exist_ok=True)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    work = os.path.join(BUILD, "work")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    # JVM log lines (the archive dump reports to stdout) go to stderr
    cmd = [java, *opens, "-Xlog:disable", "-Xlog:all=warning:stderr", cds,
           "-XX:+UseParallelGC", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("the last output line is not a result")
    if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
        fail("malformed result line")
    if args.workload == "query_pass":
        check_queries(os.path.join(work, "check", "query_pass"))
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
